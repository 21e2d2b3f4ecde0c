package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit, XxHash64}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{QueryDef, Tables => T}

import scala.collection.concurrent.TrieMap

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>[64], label): brute-force cosine top-k as the exact
  * baseline, a random-hyperplane LSH bucketed variant as the scale path,
  * and per-label centroids.
  *
  * Scale design: the query side is always the *small* side and is
  * broadcast; the corpus side streams. Dot products are codegen'd
  * higher-order expressions (`zip_with`+`aggregate`), computed in double
  * for DuckDB parity. Top-k goes through a per-query window (rank ≤ k) —
  * partial top-k per partition, no global sort of the corpus.
  */
object SimilarityOps {

  /** Cosine similarity of two array<float> columns, accumulated in double
    * (sequential, same order as DuckDB list_sum — bit-stable). HOF form;
    * kept as the reference implementation the native expression is
    * tested against. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) = aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Codegen'd native cosine (graft.functions.CosineSimilarity): one
    * fused loop, bit-identical to [[cosine]] (same sequential double
    * accumulation) — used on the k-NN hot paths. */
  def fastCosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine_sim(a, b)

  /** Corpus embedding width that the literal-replay oracles (in-order
    * dot products, hyperplane matrices, IVF centroids, PQ codebooks)
    * and the `dims`-threaded plans are generated at. This is an
    * OBSERVED property of the driver's embeddings table, not a
    * documented contract — so the similarity queries read the table
    * through [[checkedEmbeddings]], which fails loudly if a testdata
    * regeneration ever changes the width. The silent alternative is a
    * dozen queries hash-mismatching with no hint why (exactly the
    * failure class ADVICE r6 flagged for NearestCentroid, and the
    * round-7 events-timestamp regeneration proved data DOES change
    * shape between rounds). */
  val EmbeddingDim = 64

  private val dimCache = TrieMap.empty[String, Int]

  /** `embeddings` table scan guarded by a once-per-dataset width probe
    * (one row; memoized — dataset dirs are immutable within a JVM). */
  def checkedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val dim = dimCache.getOrElseUpdate(d,
      T.embeddings(s, d).select(size(col("embedding"))).head().getInt(0))
    require(dim == EmbeddingDim,
      s"embeddings at $d are $dim-dim; plans and literal-replay oracles " +
      s"are generated at $EmbeddingDim — regenerate them (SimilarityOps." +
      "EmbeddingDim) instead of silently mis-replaying")
    T.embeddings(s, d)
  }

  /** LSH bit-width sized to the corpus: 2^nBits ≈ n / targetPerBucket, so
    * expected bucket occupancy stays ~constant and within-bucket verify
    * work grows O(n·target) — a FIXED bit-width degrades O(n²/2^bits) as
    * the corpus grows 100×, while too MANY bits for a small corpus
    * shatters buckets to singletons and kills recall. Clamped to
    * [minBits, maxBits] (24 bits ⇒ 16M buckets ⇒ occupancy ~60 at n=1e9). */
  def scaledLshBits(n: Long, targetPerBucket: Long = 64, minBits: Int = 4,
      maxBits: Int = 24): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetPerBucket)) / math.log(2.0)).toInt
    math.min(maxBits, math.max(minBits, needed))
  }

  /** Sign-bit LSH bucket id from `nBits` pseudo-random hyperplanes. The
    * hyperplane components are seeded integer hashes mapped to [-1, 1] —
    * deterministic, no RNG state, identical on every executor.
    *
    * REFERENCE implementation: re-derives every plane component per row
    * with xxhash64 expression chains. The hot paths use [[lshBucketFast]]
    * (plan-time literal planes, fused codegen loop) — bit-parity between
    * the two is locked by FunctionsSpec. */
  def lshBucket(v: Column, nBits: Int, dims: Int, seed: Long): Column = {
    val bits = (0 until nBits).map { b =>
      val planeDot = aggregate(
        zip_with(v, sequence(lit(0), lit(dims - 1)), (x, i) =>
          x.cast("double") *
            (pmod(xxhash64(lit(b.toLong * 7919 + seed), i), lit(2001L))
              .cast("double") / 1000.0 - 1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(planeDot >= 0, lit(1L) * (1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Six independent hash tables (first four = the original round-3
    * seeds, so the candidate set is a strict superset of the gated
    * 4-table configuration). Extra tables are cheap since the
    * hyperplanes became plan-time literals — measured recall on the
    * near-orthogonal sf0.001 corpus: 0.438 (L=4) → 0.573 (L=6) → 0.695
    * (L=8); L=6 keeps the sf0.1 query at ~3 s, L=8 costs ~0.8 s more —
    * the recall/latency dial is just this list. */
  val defaultSeeds: Seq[Long] =
    Seq(42L, 137L, 271L, 613L, 997L, 1499L)

  private val planeCache = TrieMap.empty[(Int, Int, Long), Seq[Seq[Double]]]

  /** Driver-side hyperplane matrix, bit-identical to the components the
    * [[lshBucket]] expression computes per row: plane(b)(i) =
    * pmod(xxhash64(b*7919+seed, i), 2001)/1000 − 1, evaluated ONCE at
    * plan time via the same Catalyst XxHash64 (seed 42, Long then Int
    * child — exactly what `xxhash64(lit(long), sequence-element)`
    * hashes). Memoized per (nBits, dims, seed). */
  def planeMatrix(nBits: Int, dims: Int, seed: Long): Seq[Seq[Double]] =
    planeCache.getOrElseUpdate((nBits, dims, seed),
      Seq.tabulate(nBits, dims) { (b, i) =>
        val h = XxHash64(Seq(CatLit(b.toLong * 7919 + seed), CatLit(i)), 42L)
          .eval(InternalRow.empty).asInstanceOf[Long]
        (((h % 2001) + 2001) % 2001) / 1000.0 - 1.0
      })

  /** Codegen'd bucket id over plan-time literal planes — the hot-path
    * equivalent of [[lshBucket]] (FunctionsSpec asserts equality). */
  def lshBucketFast(v: Column, nBits: Int, dims: Int, seed: Long): Column =
    graft.functions.LshSignBits.lsh_sign_bits(v, planeMatrix(nBits, dims, seed))

  /** A double as a DuckDB DOUBLE literal: `Double.toString` round-trips
    * exactly; the `e0` suffix forces DOUBLE parsing (a bare `0.234`
    * literal would be DECIMAL and poison the arithmetic). */
  private def dblSql(v: Double): String = {
    val s = v.toString
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }

  /** A matrix as a DuckDB 2-level DOUBLE list literal `m[row][col]`. */
  private def matSql(m: Seq[Seq[Double]]): String =
    m.map(_.map(dblSql).mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** The SAME literal hyperplanes the plan embeds, as a DuckDB 3-level
    * list literal `planes[tab][bit][dim]` — what makes the ANN queries
    * fully oracle-checkable: the oracle needs no xxhash64, just the
    * numbers. */
  private def planeSqlLiteral(seeds: Seq[Long], maxBits: Int,
      dims: Int): String =
    seeds.map(sd => matSql(planeMatrix(maxBits, dims, sd)))
      .mkString("[", ", ", "]")

  /** Oracle CTE chain ending in `sig(vec_id, tab, bucket, embedding)` —
    * the DuckDB image of [[bucketedFrame]] over literal planes.
    *
    * Bit-width: the integer rule `min b: 64·2^b ≥ n` equals
    * [[scaledLshBits]]'s ceil-log formulation except exactly AT
    * power-of-two boundaries (where JVM/libm ulp could differ); no
    * driver scale factor sits on a boundary (n = 500 / 2000 → 4 / 5
    * bits). Dot products are `list_sum` over in-order products, the
    * same formulation the y1 cosine oracle hash-passes with; the sign
    * test is exact, which is safe because plane dots on the synthetic
    * corpus are never within fp-drift of zero. */
  private[operators] def lshSigCtes(seeds: Seq[Long],
      maxBits: Int = 12): String =
    s"""pl AS (SELECT ${planeSqlLiteral(seeds, maxBits, EmbeddingDim)} AS p),
       |nb AS (SELECT least(24, greatest(4,
       |         (SELECT min(b) FROM range(0, 25) t(b)
       |          WHERE 64 * (CAST(1 AS BIGINT) << b)
       |                >= (SELECT count(*) FROM embeddings)))) AS nbits),
       |dots AS (SELECT e.vec_id, t.tab, b.b,
       |           list_sum(list_transform(range(1, ${EmbeddingDim + 1}),
       |             i -> CAST(e.embedding[i] AS DOUBLE)
       |                  * pl.p[t.tab + 1][b.b + 1][i])) AS d
       |         FROM embeddings e, range(0, ${seeds.length}) t(tab),
       |              range(0, $maxBits) b(b), pl, nb
       |         WHERE b.b < nb.nbits),
       |bk AS (SELECT vec_id, tab,
       |         CAST(sum(CASE WHEN d >= 0
       |              THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
       |           AS bucket
       |       FROM dots GROUP BY 1, 2),
       |sig AS (SELECT bk.vec_id, bk.tab, bk.bucket, e.embedding
       |        FROM bk JOIN embeddings e USING (vec_id))""".stripMargin

  /** In-order cosine between two embedding columns, the SQL image of
    * the fused [[fastCosine]] loop (same y1-proven formulation). */
  private[operators] def cosineSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, ${EmbeddingDim + 1}),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin

  private val countCache = TrieMap.empty[String, Long]

  /** Corpus row count, computed once per (dataset key) per JVM — sizing
    * nBits must not cost a full scan on every query run. Dataset dirs
    * are immutable (driver-generated parquet), so no invalidation. */
  def cachedCount(key: String, df: => DataFrame): Long =
    countCache.getOrElseUpdate(key, df.count())

  /** The banded signature frame `(vec_id, embedding, tab, bucket)` for
    * `seeds.length` independent hash tables: one posexplode fan-out of
    * the per-table bucket ids. */
  def bucketedFrame(emb: DataFrame, nBits: Int, seeds: Seq[Long],
      dims: Int): DataFrame = {
    val tabs = array(
      seeds.map(sd => lshBucketFast(col("embedding"), nBits, dims, sd)): _*)
    emb.select(col("vec_id"), col("embedding"), posexplode(tabs))
      .withColumnRenamed("pos", "tab")
      .withColumnRenamed("col", "bucket")
  }

  private val sigCache = new graft.etl.DfCache

  /** Per-dataset persisted signature frame: the self-join in the ANN
    * queries derives BOTH sides from this frame, so materializing it once
    * (MEMORY_AND_DISK — spills, never OOMs) halves the scan+hash work and
    * survives repeat queries in the same JVM. n·L rows of (id, vector,
    * 2×long) — at 100 TB this is the standard "materialize signatures
    * once" LSH layout, the same pay-once trade as the bucketed join. */
  def cachedBucketedFrame(key: String, emb: => DataFrame, nBits: Int,
      seeds: Seq[Long], dims: Int): DataFrame =
    sigCache.getOrElseUpdate(s"$key|$nBits|$dims|${seeds.mkString(",")}", {
      bucketedFrame(emb, nBits, seeds, dims)
        .persist(StorageLevel.MEMORY_AND_DISK)
    })

  /** Multiplicative scramble used to pick which `capPerBucket` members
    * represent an oversized LSH bucket — deterministic, id-order-
    * decorrelated, and exactly replayable in ANSI SQL (Knuth's 2^32
    * golden-ratio multiplier, a Mersenne-ish prime modulus). Both
    * operands are reduced mod 1048573 BEFORE the multiply, which keeps
    * the value (a·b mod m = (a mod m)(b mod m) mod m), bounds the
    * intermediate below 2^40, and — unlike the naive product, which
    * overflows Long at vec_id ≈ 3.4e9 — stays exact for any int64 id
    * (hit for real on the ×100 blow-up probe's shifted ids). */
  private def bucketScramble(id: Column): Column =
    pmod(pmod(id, lit(1048573L)) * lit(2654435761L % 1048573L),
      lit(1048573L))

  /** Multi-table LSH ANN: each of `seeds.length` independent hash tables
    * buckets every vector by `nBits` hyperplane sign bits; candidate
    * pairs share a (table, bucket) key; exact cosine + per-query top-k
    * runs over the deduped candidate union. One posexplode fan-out (L×
    * rows, L small), one hash-shuffle on the uniform (table, bucket)
    * key — never all-pairs. `maxQid` restricts the query side (None =
    * every vector, the dedup/knn-graph shape).
    *
    * SKEW GUARD (`capPerBucket` + `chainK`, the ANN twin of the dedup
    * banding's boilerplate cap): a dominant near-duplicate embedding
    * cluster sends ALL its members to the same (tab, bucket) in every
    * table, and the within-bucket self-join degrades to O(m²) on that
    * bucket. Buckets at or under `capPerBucket` members keep exact
    * all-pairs semantics; a bucket OVER the cap degrades to
    * consecutive-rank CHAINS in [[bucketScramble]] order — each member
    * pairs only with the `chainK` members on either side of its rank —
    * so an over-cap bucket of m members contributes ≤ m·2·chainK
    * candidates (linear in m) instead of m·capPerBucket. This is
    * strictly better than the r8 neighbor-side truncation at
    * saturation: the ×1000 probe measured candidate volume pinned at
    * exactly n·L·cap (2.78 B pairs) once every 1000-copy cluster
    * filled its cap; chains cut that per-bucket constant from cap=256
    * to 2·chainK=16. Every member still gets ≥ chainK candidates per
    * table (both chain directions), and inside a near-dup bucket any
    * chain neighbor scores cos ≈ 1, so top-k quality survives
    * (AnnRecallSpec pins recall on a 1000-copy skew fixture).
    *
    * Physical shape: bucket SIZE is a sort-free count window on the
    * (tab, bucket) exchange the join needs anyway; the rank sort —
    * the only per-bucket O(m log m) pass — runs on the over-cap SUBSET
    * alone (bucket-granular filter, so ranks within a kept bucket are
    * complete), and the chain join is an equi-join on (tab, bucket,
    * rank) producing exactly the chain rows, never an all-pairs
    * intermediate. Default cap 4× the target bucket occupancy, so
    * healthy buckets (~64) never leave the exact arm. */
  def lshTopK(emb: DataFrame, k: Int, maxQid: Option[Long] = None,
      seeds: Seq[Long] = SimilarityOps.defaultSeeds,
      dims: Int = EmbeddingDim, cacheKey: Option[String] = None,
      capPerBucket: Int = 256, chainK: Int = 8): DataFrame = {
    val n = cacheKey.fold(emb.count())(kk => cachedCount(kk, emb))
    val nBits = scaledLshBits(n)
    val e = cacheKey.fold(bucketedFrame(emb, nBits, seeds, dims))(kk =>
      cachedBucketedFrame(kk, emb, nBits, seeds, dims))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("nid"))
    lshScoredCandidates(e, maxQid, capPerBucket, chainK)
      // r16 optimization (guide §2.4, one exchange instead of two): the
      // candidate multiset used to cross the wire twice — once for the
      // distinct's hash(qid, nid, cos) exchange, once for the top-k
      // window's hash(qid) exchange. Hash-partitioning by qid ALONE
      // satisfies BOTH downstream distributions (same-key rows are
      // colocated for the distinct — Spark's subset-clustering rule —
      // and the window needs exactly this partitioning), so one
      // explicit repartition carries the distinct AND the window with
      // zero further exchanges. AQE still right-sizes it (a keyed
      // repartition is a coalescible shuffle read).
      .repartition(col("qid"))
      .distinct() // collapse multi-table duplicates (cos is deterministic)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "nid", "cos_sim")
      .orderBy(col("qid"), col("cos_sim").desc, col("nid"))
  }

  /** Scored candidate multiset `(qid, nid, cos_sim)` — one row per
    * [[lshCandidatePairs]] row (AnnRecallSpec pins the counts equal),
    * scored WHERE THE BUCKETS ALREADY CO-LOCATE THE VECTORS, so no
    * exchange ever carries an embedding alongside a fan-out. Two ×1000
    * probe post-mortems dictate the shape:
    *  - a gather design (slim pairs → distinct → join embeddings twice)
    *    re-exchanges ~10⁸ vector-attached intermediate rows between the
    *    two gather joins — 36 GB sorts / >60 GB shuffle on one box;
    *  - attaching vectors to the chain arm's exploded side fans a 1 KB
    *    payload 2·chainK× through the rank equi-join exchange.
    * Here the exact arm scores inside the (tab, bucket) self-join (both
    * sides' vectors arrive on the join's own exchange, fan-out streams
    * through the cosine projection and leaves slim), and the chain arm
    * uses WINDOW LEADS: `lead(vec_id, j)`/`lead(embedding, j)` for
    * j = 1..chainK over the scramble-order sort give every member its
    * chain successors' vectors with ZERO additional exchange; each
    * successor pair scores once and both query directions are emitted
    * from the same row (cosine is symmetric). */
  private[operators] def lshScoredCandidates(e: DataFrame,
      maxQid: Option[Long], capPerBucket: Int,
      chainK: Int = 8): DataFrame = {
    val sized = e.select(col("vec_id"), col("embedding"),
        col("tab"), col("bucket"))
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy("tab", "bucket")))
    def qSide(df: DataFrame) =
      maxQid.fold(df)(m => df.filter(col("qid") < m))

    // exact arm: full within-bucket join, scored in the join stage
    val small = sized.filter(col("bsz") <= capPerBucket)
    val smallScored = small
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("tab"), col("bucket"))
      .join(small.select(col("vec_id").as("nid"),
        col("embedding").as("ne"), col("tab"), col("bucket")),
        Seq("tab", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(fastCosine(col("qe"), col("ne")), 4).as("cos_sim"))

    // chain arm: over-cap buckets pair rank r with ranks r+1..r+chainK
    // via window leads (map-side fan-out), mirrored for the r−j side
    val bigW = Window.partitionBy("tab", "bucket")
      .orderBy(bucketScramble(col("vec_id")), col("vec_id"))
    val leadCols = (1 to chainK).map(j =>
      struct(lead(col("vec_id"), j).over(bigW).as("nid"),
        lead(col("embedding"), j).over(bigW).as("ne")).as(s"s_$j"))
    val forward = sized.filter(col("bsz") > capPerBucket)
      .select(col("vec_id") +: col("embedding") +: leadCols: _*)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(array((1 to chainK).map(j => col(s"s_$j")): _*)).as("p"))
      .filter(col("p.nid").isNotNull)
      .select(col("qid"), col("p.nid").as("nid"),
        round(fastCosine(col("qe"), col("p.ne")), 4).as("cos_sim"))
    val chainScored = forward.unionByName(
      forward.select(col("nid").as("qid"), col("qid").as("nid"),
        col("cos_sim")))

    qSide(smallScored).unionByName(qSide(chainScored))
  }

  /** The raw within-bucket candidate join of [[lshTopK]] (pre-distinct,
    * pre-cosine; slim `(tab, bucket, qid, nid)` rows — vectors attach
    * in [[lshTopK]] AFTER dedup), exposed so the skew spec can COUNT
    * the work the guard bounds: ≤ Σ_buckets m·min(m-1, capPerBucket)
    * from exact buckets plus ≤ m·2·chainK from each over-cap bucket —
    * i.e. ≤ n·L·2·chainK at total saturation, regardless of skew. */
  private[operators] def lshCandidatePairs(e: DataFrame,
      maxQid: Option[Long], capPerBucket: Int,
      chainK: Int = 8): DataFrame = {
    // sort-free size annotation on the same (tab, bucket) partitioning
    // the candidate join shuffles on; embeddings are dropped up front —
    // every row through these exchanges is a few ids wide
    val sized = e.select(col("vec_id"), col("tab"), col("bucket"))
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy("tab", "bucket")))
    def qSide(df: DataFrame) =
      maxQid.fold(df)(m => df.filter(col("vec_id") < m))

    // exact arm: buckets within the cap do the full within-bucket join
    val small = sized.filter(col("bsz") <= capPerBucket)
    val smallPairs = qSide(small)
      .select(col("vec_id").as("qid"), col("tab"), col("bucket"))
      .join(small.select(col("vec_id").as("nid"), col("tab"),
        col("bucket")), Seq("tab", "bucket"))
      .filter(col("qid") =!= col("nid"))

    // chain arm: over-cap buckets pair rank r with ranks r±1..r±chainK
    // (scramble order decorrelates rank from id). The filter keeps
    // whole buckets, so ranks computed after it are complete.
    val big = sized.filter(col("bsz") > capPerBucket)
      .withColumn("brk", row_number().over(Window
        .partitionBy("tab", "bucket")
        .orderBy(bucketScramble(col("vec_id")), col("vec_id"))))
    val offs = (-chainK to chainK).filter(_ != 0).map(lit(_))
    val bigPairs = qSide(big)
      .select(col("vec_id").as("qid"), col("tab"), col("bucket"),
        explode(array(offs: _*)).as("off"), col("brk"))
      .withColumn("trk", col("brk") + col("off"))
      .join(big.select(col("vec_id").as("nid"), col("tab"),
        col("bucket"), col("brk").as("trk")),
        Seq("tab", "bucket", "trk"))
      .select("tab", "bucket", "qid", "nid")

    smallPairs.select("tab", "bucket", "qid", "nid")
      .unionByName(bigPairs)
  }

  /** The embeddings frame the IVF/PQ queries operate on: (vec_id,
    * features: array<double>). Float→double casts are exact, so cosine /
    * distance values match computations on the raw float column. */
  private def featFrame(s: SparkSession, d: String): DataFrame =
    checkedEmbeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("features"))

  /** Max IVF cell count. The ⌈√n⌉ rule makes assignment cost n·√n —
    * measured 17.7×/decade on the blow-up probe (BENCH_SCALES.md
    * §x1000) — which is the right trade only while the fit itself is
    * cheap. Past √n = 4096 (n ≈ 16.8 M) the cap pins assignment to a
    * constant 4096·d fused-argmin ops per vector (linear total);
    * per-cell occupancy then grows with n, which the probe-side
    * candidate scan pays — the standard IVF envelope (FAISS practice:
    * cells in the thousands for corpora in the tens of millions, then
    * PQ residuals — the y6/y7 path — carry the rest). */
  val MaxIvfCells = 4096

  /** IVF coarse-quantizer geometry for dataset `d`:
    * k = min(max(8, ⌈√n⌉), [[MaxIvfCells]]) cells, centroids from the
    * fit-once (warehouse-persisted) seeded KMeans model, as a plain
    * matrix. The y5/y7 query bodies and their oracle generators share
    * EXACTLY this — the centroid numbers in the oracle's literals are
    * the numbers the plan embedded. Past the ceiling, per-query scanned
    * candidates grow linearly with n/4096; a two-level fit at k = ⌈√n⌉
    * uncapped ([[graft.ml.Quantizer.fitTwoLevel]], the dedup path's
    * machinery) would hold them at the nProbe·√n envelope with
    * (k1+k2)·d assignment (both arms measured at a forced-low ceiling in
    * BENCH_SCALES §r13). */
  def ivfCentroids(s: SparkSession, d: String): Seq[Seq[Double]] = {
    import graft.ml.Clustering
    val e = checkedEmbeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("features"))
    val n = cachedCount(s"emb:$d", e)
    val k = math.min(math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt),
      MaxIvfCells)
    val warehouse = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // dataTag, not pathTag: the persisted model must go stale with the
    // data — blow-up probes rewrite the same /tmp dir, and a path-keyed
    // model fit on the previous corpus would be silently loaded
    val model = Clustering.kmeansModelCached(s"ivf:$d:$k", e, k = k,
      seed = 42, maxIter = 5, persistPath = Some(s"$warehouse/graft_ivf_" +
        s"${graft.etl.ScaleUtils.dataTag(s"$d/embeddings.parquet")}_k$k"))
    model.clusterCenters.toSeq.map(_.toArray.toSeq)
  }

  /** Per-row nearest-centroid cell over the plan-time centroid matrix:
    * one fused codegen'd k·d loop (native [[graft.functions
    * .NearestCentroid]], matrix via addReferenceObj — no row fan-out, no
    * ML-internal distance shortcuts (norm-based bounds) in the query
    * path, viable at √n cells for any corpus). The sequential per-cell
    * fold is bit-identical to DuckDB's list_sum and ties break to the
    * lowest cell — what makes the cell assignment oracle-replayable.
    * FunctionsSpec pins bit-parity against the interpreted HOF
    * formulation of the same argmin. */
  def ivfCellExpr(features: Column, cents: Seq[Seq[Double]]): Column =
    graft.functions.NearestCentroid.nearest_centroid(features, cents)

  /** The HOF formulation of [[ivfCellExpr]] — interpreted (lambdas never
    * enter codegen), kept as the reference implementation the native
    * expression is spec-tested against. */
  def ivfCellExprRef(features: Column, cents: Seq[Seq[Double]]): Column = {
    val cl = array(cents.map(c => array(c.map(lit): _*)): _*)
    val d2s = transform(cl, c =>
      aggregate(zip_with(features, c, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
    (array_position(d2s, array_min(d2s)) - 1).cast("long")
  }

  /** Driver-side probe routing for a single query vector: the `nProbe`
    * cells whose centroids are nearest (squared euclidean, sequential
    * sum — the same fold the SQL replay uses), ties → lowest cell. */
  def nearestCells(cents: Seq[Seq[Double]], q: Seq[Double],
      nProbe: Int): Seq[Long] =
    cents.zipWithIndex.map { case (c, i) =>
      (i, c.indices.map(j => { val x = c(j) - q(j); x * x }).sum)
    }.sortBy { case (i, d2) => (d2, i) }.take(nProbe).map(_._1.toLong)

  /** DuckDB CTE `cells(nid, cell)`: every vector's argmin cell over the
    * literal centroids — the SQL image of [[ivfCellExpr]]. Expects a
    * 1-row CTE `cent(c)` holding the centroid matrix in scope. */
  private def cellsCteSql(k: Int, d: Int): String =
    s"""dd AS (SELECT e.vec_id, t.cell,
       |        list_sum(list_transform(range(1, ${d + 1}),
       |          i -> (CAST(e.embedding[i] AS DOUBLE) - cent.c[t.cell + 1][i])
       |             * (CAST(e.embedding[i] AS DOUBLE) - cent.c[t.cell + 1][i])))
       |          AS d2
       |      FROM embeddings e, range(0, $k) t(cell), cent),
       |cells AS (SELECT vec_id AS nid, cell FROM dd
       |          QUALIFY row_number() OVER (PARTITION BY vec_id
       |            ORDER BY d2, cell) = 1)""".stripMargin

  /** y5's oracle: the fitted √n centroids are plan-time constants once
    * the fit-once model exists — inline them and replay cell assignment,
    * 2-probe routing, and cosine top-3 entirely in SQL. */
  private[operators] def ivfOracleSql(s: SparkSession, d: String): String = {
    val cents = ivfCentroids(s, d)
    s"""WITH cent AS (SELECT ${matSql(cents)} AS c),
       |${cellsCteSql(cents.length, cents.head.length)},
       |probes AS (SELECT vec_id AS qid, cell FROM dd WHERE vec_id < 20
       |           QUALIFY row_number() OVER (PARTITION BY vec_id
       |             ORDER BY d2, cell) <= 2),
       |cand AS (SELECT p.qid, c.nid FROM probes p JOIN cells c USING (cell)
       |         WHERE p.qid <> c.nid),
       |scored AS (SELECT cand.qid, cand.nid,
       |             round(${cosineSql("ea.embedding", "eb.embedding")}, 4)
       |               AS cos_sim
       |           FROM cand
       |           JOIN embeddings ea ON ea.vec_id = cand.qid
       |           JOIN embeddings eb ON eb.vec_id = cand.nid)
       |SELECT qid, nid, cos_sim FROM scored
       |QUALIFY row_number() OVER (PARTITION BY qid
       |  ORDER BY cos_sim DESC, nid) <= 3
       |ORDER BY qid, cos_sim DESC, nid""".stripMargin
  }

  /** DuckDB CTEs replaying [[graft.functions.PqEncode]] + ADC over
    * literal codebooks `cb.b[j][c][i]` and a literal per-query distance
    * table `cb.t[j][c]`: per (vector, subspace) the 16 squared distances
    * (sequential folds), argmin via list_position(min) — first index on
    * ties, exactly the expression's `d < bestD` — then the ADC sum in
    * subspace order (list_sum's left fold = adcDistance's reduce). */
  private def adcCtesSql(src: String, m: Int, k: Int, dsub: Int): String =
    s"""dls AS (SELECT e.vec_id, j.j,
       |          list_transform(range(0, $k), c ->
       |            list_sum(list_transform(range(1, ${dsub + 1}), i ->
       |              (CAST(e.embedding[j.j * $dsub + i] AS DOUBLE)
       |                 - cb.b[j.j + 1][c + 1][i])
       |            * (CAST(e.embedding[j.j * $dsub + i] AS DOUBLE)
       |                 - cb.b[j.j + 1][c + 1][i])))) AS dl
       |        FROM $src e, range(0, $m) j(j), cb),
       |codes AS (SELECT vec_id, j,
       |            list_position(dl, list_min(dl)) - 1 AS cj FROM dls),
       |codev AS (SELECT vec_id, list(cj ORDER BY j) AS cjs
       |          FROM codes GROUP BY vec_id),
       |adc AS (SELECT v.vec_id,
       |          round(list_sum(list_transform(range(0, $m),
       |            j -> cb.t[j + 1][v.cjs[j + 1] + 1])), 6) AS adc_d2
       |        FROM codev v, cb)""".stripMargin

  /** Shared by the y6/y7 generators: the fitted PQ model and the query
    * vector / ADC table for vec_id=0 — the same objects the query bodies
    * used (fitCached memoizes per dataset within the JVM). */
  private def pqParts(s: SparkSession, d: String) = {
    import graft.ml.Pq
    val model = Pq.fitCached(s"pq:$d",
      featFrame(s, d).select(col("features")), dims = EmbeddingDim)
    val q = checkedEmbeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
    (model, q, Pq.adcTable(q, model))
  }

  /** y6's oracle: literal codebooks + literal ADC table, full-corpus
    * encode + ADC top-10 replayed in SQL. */
  private[operators] def pqOracleSql(s: SparkSession, d: String): String = {
    val (model, _, table) = pqParts(s, d)
    val cbSql = model.codebooks.map(matSql).mkString("[", ", ", "]")
    s"""WITH cb AS (SELECT $cbSql AS b, ${matSql(table)} AS t),
       |${adcCtesSql("embeddings", model.m, model.codebooks.head.length,
          model.dsub)}
       |SELECT vec_id, adc_d2 FROM adc WHERE vec_id != 0
       |ORDER BY adc_d2, vec_id LIMIT 10""".stripMargin
  }

  /** y7's oracle: both literal models composed — cell-filter to the two
    * probed cells (inlined, computed by the same [[nearestCells]] call
    * the query body used), then PQ encode + ADC top-10. */
  private[operators] def ivfPqOracleSql(s: SparkSession, d: String): String = {
    val cents = ivfCentroids(s, d)
    val (model, q, table) = pqParts(s, d)
    val probed = nearestCells(cents, q, 2)
    val cbSql = model.codebooks.map(matSql).mkString("[", ", ", "]")
    s"""WITH cent AS (SELECT ${matSql(cents)} AS c),
       |cb AS (SELECT $cbSql AS b, ${matSql(table)} AS t),
       |${cellsCteSql(cents.length, cents.head.length)},
       |probe_corpus AS (SELECT e.* FROM embeddings e
       |                 JOIN cells ON cells.nid = e.vec_id
       |                 WHERE cells.cell IN (${probed.mkString(", ")})
       |                   AND e.vec_id != 0),
       |${adcCtesSql("probe_corpus", model.m, model.codebooks.head.length,
          model.dsub)}
       |SELECT vec_id, adc_d2 FROM adc
       |ORDER BY adc_d2, vec_id LIMIT 10""".stripMargin
  }

  /** SemDeDup similarity gate. The synthetic embeddings are
    * near-orthogonal globally (x11 uses 0.25 for the same reason), and
    * cluster-mates sit closer than the global population, so 0.25 keeps
    * the within-cluster prune observable; a production corpus runs the
    * same plan at ≈0.95+. */
  val SemDedupTau = 0.25

  /** Last-resort within-cell pair cap / chain width shared by
    * [[semDedupVerdicts]]' defaults AND the y8 oracle SQL — hoisted so a
    * default change cannot silently diverge the two into an opaque hash
    * mismatch (ADVICE r12). */
  val SemDedupPairCap = 4096
  val SemDedupChainK = 8

  /** SemDeDup's target cell occupancy and the k rule it induces:
    * k = max(8, ⌈n/256⌉) scales LINEARLY with the corpus so cells hold
    * ~256 members and the within-cell EXACT pairwise triangle stays the
    * operating regime (the paper's own choice: SemDeDup sizes its
    * k-means so clusters are small enough for the full pairwise sim
    * matrix; contrast [[ivfCentroids]]' k = √n, a SEARCH trade that at
    * blow-up scale produced √n-sized cells where the banded fallback
    * measurably missed interleaved duplicate groups — BENCH_SCALES
    * §r12). */
  def dedupKTotal(n: Long): Int = math.max(8, math.ceil(n / 256.0).toInt)

  /** Flat dedup quantizer: full-corpus seeded KMeans at
    * k = [[dedupKTotal]] capped to [[MaxIvfCells]] — the
    * oracle-replayable path every driver-scale corpus takes (k is 8 at
    * sf0.01; the literal centroid matrix in y8's oracle comes from
    * here). */
  def dedupCentroids(s: SparkSession, d: String): Seq[Seq[Double]] = {
    import graft.ml.Clustering
    val e = checkedEmbeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("features"))
    val n = cachedCount(s"emb:$d", e)
    val k = math.min(dedupKTotal(n), MaxIvfCells)
    val warehouse = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val model = Clustering.kmeansModelCached(s"sdd:$d:$k", e, k = k,
      seed = 42, maxIter = 5, persistPath = Some(s"$warehouse/graft_sdd_" +
        s"${graft.etl.ScaleUtils.dataTag(s"$d/embeddings.parquet")}_k$k"))
    model.clusterCenters.toSeq.map(_.toArray.toSeq)
  }

  /** Scaled dedup quantizer (k past the flat ceiling): the sampled
    * two-level fit at k = [[dedupKTotal]] with no ceiling —
    * [[graft.ml.Quantizer]] holds the fit (bounded hash samples,
    * distributed per-cell sub-fits) and the scale arithmetic; the
    * assignment kernel is [[graft.functions.TwoLevelNearestCell]]
    * ((k1+k2)·d ≈ 2√k·d per vector). Fit-once per corpus snapshot,
    * warehouse-persisted like the flat model. */
  def scaledDedupQuantizer(s: SparkSession, d: String): graft.ml.Quantizer.TwoLevel = {
    val e = checkedEmbeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("features"))
    val n = cachedCount(s"emb:$d", e)
    val warehouse = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    graft.ml.Quantizer.fitTwoLevelCached(s"sdd2l:$d", e, n, dedupKTotal(n),
      persistPath = Some(s"$warehouse/graft_sdd2l_" +
        graft.etl.ScaleUtils.dataTag(s"$d/embeddings.parquet")))
  }

  /** The SemDeDup cluster-assignment frame `(vec_id, embedding, cell,
    * ccos, rk, csz)`: nearest-centroid cell over the fit-once dedup
    * quantizer, cosine to the OWN cell's centroid, the keep-priority
    * rank (ccos ASC, vec_id — SemDeDup keeps the examples LEAST similar
    * to their centroid), and the cell size. Both windows ride the one
    * hash exchange on `cell` that the downstream pair join needs anyway. */
  def semDedupRanked(emb: DataFrame, cents: Seq[Seq[Double]]): DataFrame = {
    val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    val w = Window.partitionBy("cell")
    emb.select(col("vec_id"), col("embedding"),
        ivfCellExpr(col("embedding"), cents).as("cell"))
      .withColumn("ccos", fastCosine(col("embedding"),
        element_at(centLit, (col("cell") + lit(1L)).cast("int"))))
      .withColumn("rk", row_number().over(
        w.orderBy(col("ccos"), col("vec_id"))))
      .withColumn("csz", count(lit(1)).over(w))
  }

  /** [[semDedupRanked]] over the two-level quantizer: assignment is the
    * fused (k1+k2)·d two-stage argmin, ccos the addReferenceObj-backed
    * [[graft.functions.CentroidCosine]] (the flat path's literal
    * centroid tree would be k·d Literal nodes — a plan-width explosion
    * at k ∝ n). Same window shapes on the same `cell` exchange; the
    * frame is drop-in for [[semDedupVerdicts]]. */
  def semDedupRankedScaled(emb: DataFrame,
      q: graft.ml.Quantizer.TwoLevel): DataFrame = {
    val w = Window.partitionBy("cell")
    emb.select(col("vec_id"), col("embedding"),
        graft.functions.TwoLevelNearestCell
          .two_level_cell(col("embedding"), q.coarse, q.sub).as("cell"))
      .withColumn("ccos", graft.functions.CentroidCosine
        .centroid_cosine(col("embedding"), col("cell"), q.sub))
      .withColumn("rk", row_number().over(
        w.orderBy(col("ccos"), col("vec_id"))))
      .withColumn("csz", count(lit(1)).over(w))
  }

  /** Per-dataset persisted assignment frame (MEMORY_AND_DISK): the y8
    * pair join derives BOTH sides from it and the verdict projection
    * reads it a third time — the materialize-the-cluster-table-once
    * layout SemDeDup itself prescribes (one k-means pass per corpus
    * snapshot, then all dedup work happens on the assignment table).
    *
    * Quantizer routing: k = [[dedupKTotal]] within the flat-fit
    * ceiling `cap` takes the flat oracle-replayable fit (every
    * sf-scale corpus); past it [[scaledDedupQuantizer]]'s sampled
    * two-level fit keeps k ∝ n with NO ceiling on total cell count. A
    * low `cap` forces the over-ceiling regime at corpus sizes one box
    * can hold. The cache key carries `cap` so routings in one JVM never
    * read each other's frames. */
  def cachedSemDedupRanked(s: SparkSession, d: String,
      cap: Int = MaxIvfCells): DataFrame =
    sigCache.getOrElseUpdate(s"semdedup:$d:$cap", {
      val e = checkedEmbeddings(s, d)
      val n = cachedCount(s"emb:$d", e.select(col("vec_id")))
      val ranked =
        if (dedupKTotal(n) <= cap) semDedupRanked(e, dedupCentroids(s, d))
        else semDedupRankedScaled(e, scaledDedupQuantizer(s, d))
      ranked.persist(StorageLevel.MEMORY_AND_DISK)
    })

  /** SemDeDup verdict frame `(vec_id, cell, centroid_sim, kept)` over a
    * prepared assignment frame — the cluster-scoped semantic-dedup rule
    * of Abbas et al. 2023 (arXiv:2303.09540): within a k-means cell,
    * rank members by cosine-to-centroid ASC (keep the LEAST
    * centroid-similar representative of every duplicate group), and
    * drop a member iff some earlier-ranked cell-mate clears the `tau`
    * cosine gate — the paper's upper-triangular pairwise rule.
    *
    * The EXACT triangular pair join is the operating regime: the dedup
    * quantizer ([[dedupCentroids]]) sizes cells at ~256 members, so the
    * within-cell triangle is O(n·256) total, scored INSIDE the cell
    * join where the exchange already co-locates both vectors — never
    * gathered. `cap` = 4096 is a LAST-RESORT bound, reachable only once
    * the quantizer's k ceiling saturates (n > ~16.8 M vectors): an
    * over-cap cell degrades to the banded triangle — each member
    * checks its `chainK` rank-predecessors via window lag over the
    * (ccos, vec_id) sort the ranking already paid, O(m·chainK), zero
    * extra exchange. The band is exact on a PILE (mutual near-dups:
    * any predecessor triggers — SemDedupSpec pins banded ≡ exact
    * there) but MEASURABLY misses when distinct duplicate groups
    * interleave in ccos order (BENCH_SCALES §r12 quantified this on
    * √n-sized cells before the k-rule fix: 793/2000 groups kept ≥2
    * members vs 4 under the exact triangle — which is WHY the
    * quantizer now keeps cells small instead of leaning on the band;
    * past the ceiling the honest fix is a sampled/hierarchical fit at
    * k ∝ n, not a cleverer band order). */
  def semDedupVerdicts(ranked: DataFrame, tau: Double = SemDedupTau,
      cap: Int = SemDedupPairCap, chainK: Int = SemDedupChainK): DataFrame = {
    val lhs = ranked.filter(col("csz") <= cap)
      .select(col("cell"), col("vec_id"), col("embedding").as("e_a"),
        col("rk"))
    val rhs = ranked.filter(col("csz") <= cap)
      .select(col("cell"), col("embedding").as("e_b"),
        col("rk").as("nrk"))
    val smallDropped = lhs.join(rhs, Seq("cell"))
      .filter(col("nrk") < col("rk"))
      .filter(fastCosine(col("e_a"), col("e_b")) > lit(tau))
      .select(col("vec_id"))
    // over-cap arm: csz is cell-constant, so the filter keeps WHOLE
    // cells and lag ranks stay complete within every retained cell
    val wOrd = Window.partitionBy("cell")
      .orderBy(col("ccos"), col("vec_id"))
    val bandHit = (1 to chainK).map { j =>
      coalesce(fastCosine(col("embedding"),
        lag(col("embedding"), j).over(wOrd)) > lit(tau), lit(false))
    }.reduce(_ || _)
    val bigDropped = ranked.filter(col("csz") > cap)
      .withColumn("hit", bandHit)
      .filter(col("hit"))
      .select(col("vec_id"))
    val dropped = smallDropped.union(bigDropped).distinct()
    ranked.join(dropped.withColumn("dup", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        round(col("ccos"), 6).as("centroid_sim"),
        when(col("dup").isNull, 1L).otherwise(0L).as("kept"))
      .orderBy("vec_id")
  }

  /** y8's oracle: the fitted centroids are plan-time constants — inline
    * them and replay assignment, centroid cosine, the (ccos, vec_id)
    * keep-priority ranking, the capped triangular/star pair rule, and
    * the kept verdict in SQL. Cosines are the bit-stable sequential
    * folds both engines share (y1/y5-proven), so the rank ORDER BY and
    * the `> tau` gate cannot disagree. */
  private[operators] def semDedupOracleSql(s: SparkSession,
      d: String): String = {
    val cents = dedupCentroids(s, d)
    s"""WITH cent AS (SELECT ${matSql(cents)} AS c),
       |${cellsCteSql(cents.length, cents.head.length)},
       |asg AS (SELECT c.nid AS vec_id, c.cell,
       |          ${cosineSql("e.embedding", "cent.c[c.cell + 1]")} AS ccos
       |        FROM cells c JOIN embeddings e ON e.vec_id = c.nid, cent),
       |rkd AS (SELECT vec_id, cell, ccos,
       |          row_number() OVER (PARTITION BY cell
       |            ORDER BY ccos, vec_id) AS rk,
       |          count(*) OVER (PARTITION BY cell) AS csz
       |        FROM asg),
       |dropped AS (SELECT DISTINCT a.vec_id
       |            FROM rkd a JOIN rkd b ON a.cell = b.cell
       |              AND b.rk < a.rk
       |              AND (a.csz <= $SemDedupPairCap
       |                   OR b.rk >= a.rk - $SemDedupChainK)
       |            JOIN embeddings ea ON ea.vec_id = a.vec_id
       |            JOIN embeddings eb ON eb.vec_id = b.vec_id
       |            WHERE ${cosineSql("ea.embedding", "eb.embedding")}
       |                  > $SemDedupTau)
       |SELECT r.vec_id, r.cell, round(r.ccos, 6) AS centroid_sim,
       |       CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |         AS kept
       |FROM rkd r LEFT JOIN dropped dr ON dr.vec_id = r.vec_id
       |ORDER BY r.vec_id""".stripMargin
  }

  /** y9's oracle: the two-level fit's coarse/sub matrices are plan-time
    * constants (fit-once, deterministic) — inline both and replay the
    * HIERARCHICAL argmin (stage 1 over k1 coarse rows, stage 2 over the
    * chosen cell's k2-row sub block, ties → lowest index at each
    * stage — exactly [[graft.functions.TwoLevelNearestCell]]'s rule)
    * plus the centroid cosine in SQL. Distances are the same sequential
    * list_sum folds as [[cellsCteSql]]; the cosine is [[cosineSql]]'s
    * y1-proven formulation, bit-matching [[graft.functions
    * .CentroidCosine]]'s fused loop. */
  private[operators] def twoLevelOracleSql(s: SparkSession,
      d: String): String = {
    val q = scaledDedupQuantizer(s, d)
    val dEmb = EmbeddingDim
    s"""WITH co AS (SELECT ${matSql(q.coarse)} AS c, ${matSql(q.sub)} AS s),
       |d1 AS (SELECT e.vec_id, t.c1,
       |         list_sum(list_transform(range(1, ${dEmb + 1}),
       |           i -> (CAST(e.embedding[i] AS DOUBLE) - co.c[t.c1 + 1][i])
       |              * (CAST(e.embedding[i] AS DOUBLE) - co.c[t.c1 + 1][i])))
       |           AS d2
       |       FROM embeddings e, range(0, ${q.k1}) t(c1), co),
       |c1s AS (SELECT vec_id, c1 FROM d1
       |        QUALIFY row_number() OVER (PARTITION BY vec_id
       |          ORDER BY d2, c1) = 1),
       |ds AS (SELECT e.vec_id, c1s.c1, t.c2,
       |         list_sum(list_transform(range(1, ${dEmb + 1}),
       |           i -> (CAST(e.embedding[i] AS DOUBLE)
       |                   - co.s[c1s.c1 * ${q.k2} + t.c2 + 1][i])
       |              * (CAST(e.embedding[i] AS DOUBLE)
       |                   - co.s[c1s.c1 * ${q.k2} + t.c2 + 1][i])))
       |           AS d2
       |       FROM embeddings e JOIN c1s USING (vec_id),
       |            range(0, ${q.k2}) t(c2), co),
       |cells AS (SELECT vec_id, c1 * ${q.k2} + c2 AS cell FROM ds
       |          QUALIFY row_number() OVER (PARTITION BY vec_id
       |            ORDER BY d2, c2) = 1)
       |SELECT e.vec_id, CAST(cells.cell AS BIGINT) AS cell,
       |       round(${cosineSql("e.embedding", "co.s[cells.cell + 1]")}, 6)
       |         AS centroid_sim
       |FROM embeddings e JOIN cells USING (vec_id), co
       |ORDER BY e.vec_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // The r13 two-level quantizer kernels under the DuckDB gate at
    // driver scale: hierarchical cell assignment + cosine-to-own-
    // centroid over the SAME deterministic sampled fit the scaled
    // SemDeDup/IVF routing uses past the flat ceiling
    // (scaledDedupQuantizer — fit-once per dataset, kTotal = ⌈n/256⌉,
    // k1 = ⌈√kTotal⌉ coarse × k2 sub). At sf scales the fit is tiny
    // (k = 9 at n = 500) but the KERNELS are the production ones —
    // TwoLevelNearestCell's two-stage argmin and CentroidCosine's
    // addReferenceObj matrix — so the oracle pins exactly what runs
    // at a billion vectors.
    QueryDef(
      "y9_quantize_2l",
      (s, d) => {
        val q = scaledDedupQuantizer(s, d)
        checkedEmbeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            graft.functions.TwoLevelNearestCell
              .two_level_cell(col("embedding"), q.coarse, q.sub).as("cell"))
          .select(col("vec_id"), col("cell"),
            round(graft.functions.CentroidCosine
              .centroid_cosine(col("embedding"), col("cell"), q.sub), 6)
              .as("centroid_sim"))
          .orderBy("vec_id")
      },
      None,
      oracleGen = Some(twoLevelOracleSql)),

    // Brute-force cosine top-10 against a single query vector (vec_id=0).
    // The exact-ANN baseline: one broadcast of the query row, one corpus
    // scan, TakeOrderedAndProject for the top-k.
    QueryDef(
      "y1_cosine_topk",
      (s, d) => {
        val e = checkedEmbeddings(s, d)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("label"),
            round(cosine(col("embedding"), col("qe")), 4).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
              SELECT e.vec_id, e.label,
                     round(
                       list_sum(list_transform(range(1, ${EmbeddingDim + 1}),
                         i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(e.embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(q.qe,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos_sim
              FROM embeddings e, q
              WHERE e.vec_id != 0
              ORDER BY cos_sim DESC, e.vec_id LIMIT 10""")),

    // Per-label centroids in long form (label, dim, mean) — the IVF
    // coarse-quantizer fit. Long form keeps the shuffle key small and the
    // aggregation map-side combinable.
    QueryDef(
      "y2_centroids",
      (s, d) => checkedEmbeddings(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .groupBy("label", "pos")
        .agg(round(avg(col("col").cast("double")), 4).as("v"))
        .orderBy("label", "pos"),
      Some(s"""SELECT label, i - 1 AS pos,
                     round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS v
              FROM embeddings, range(1, ${EmbeddingDim + 1}) t(i)
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // k-NN join: top-3 neighbors for each of the first 20 vectors.
    // Query block broadcast against the corpus; per-query window top-k.
    QueryDef(
      "y3_knn_join",
      (s, d) => {
        val e = checkedEmbeddings(s, d)
        val queries = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val w = Window.partitionBy("qid")
          .orderBy(col("cos_sim").desc, col("nid"))
        e.select(col("vec_id").as("nid"), col("embedding"))
          .crossJoin(broadcast(queries))
          .filter(col("nid") =!= col("qid"))
          .select(col("qid"), col("nid"),
            round(fastCosine(col("embedding"), col("qe")), 4).as("cos_sim"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("qid", "nid", "cos_sim")
          .orderBy(col("qid"), col("cos_sim").desc, col("nid"))
      },
      Some(s"""WITH sims AS (
                SELECT a.vec_id AS qid, b.vec_id AS nid,
                       round(
                         list_sum(list_transform(range(1, ${EmbeddingDim + 1}),
                           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(a.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos_sim
                FROM embeddings a, embeddings b
                WHERE a.vec_id < 20 AND b.vec_id != a.vec_id)
              SELECT qid, nid, cos_sim FROM sims
              QUALIFY row_number() OVER (PARTITION BY qid
                ORDER BY cos_sim DESC, nid) <= 3
              ORDER BY qid, cos_sim DESC, nid""")),

    // P3 — positional array slice + aggregate (mocss.py:465-478 slices
    // feature blocks positionally; here: sum of the first 8 dims).
    QueryDef(
      "p3_array_slice",
      (s, d) => checkedEmbeddings(s, d)
        .select(col("vec_id"),
          round(aggregate(slice(col("embedding"), 1, 8), lit(0.0),
            (acc, x) => acc + x.cast("double")), 5).as("head_sum"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id,
                     round(list_sum(list_transform(list_slice(embedding, 1, 8),
                           x -> CAST(x AS DOUBLE))), 5) AS head_sum
              FROM embeddings ORDER BY vec_id""")),

    // IVF-style ANN: kmeans coarse quantizer fit ONCE per dataset
    // (cached — never re-fit inside the query body), k ≈ √n cells so
    // probe-join parallelism grows with the corpus, nProbe=2 cells per
    // query for recall. The 100 TB pattern: the corpus is partitioned by
    // cell (√n-way), a query fans out to exactly nProbe cells.
    QueryDef(
      "y5_ivf_ann",
      (s, d) => {
        val e = featFrame(s, d)
        // fit-once √n-cell quantizer (warehouse-persisted); the query
        // path sees only the centroid MATRIX — cell assignment is the
        // literal-argmin expression, probe routing a broadcast join.
        val cents = ivfCentroids(s, d)
        // the corpus (at-scale) side stays on the RAW float column: the
        // native expressions cast per-element (exactly), so skipping the
        // transform() projection keeps the scan→argmin→join chain inside
        // whole-stage codegen (HOF lambdas would break it)
        val corpus = checkedEmbeddings(s, d).select(col("vec_id").as("nid"),
          col("embedding").as("ne"),
          ivfCellExpr(col("embedding"), cents).as("cell"))
        // centroid routing table: k rows, broadcast — each query ranks
        // its distance to every centroid and keeps the 2 nearest cells
        val cdf = s.createDataFrame(
            cents.zipWithIndex.map { case (c, i) => (i.toLong, c) })
          .toDF("cell", "centroid")
        val wProbe = Window.partitionBy("qid").orderBy(col("d2"), col("cell"))
        val probes = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("features").as("qe"))
          .crossJoin(broadcast(cdf))
          .withColumn("d2", aggregate(
            zip_with(col("qe"), col("centroid"), (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x))
          .withColumn("pr", row_number().over(wProbe))
          .filter(col("pr") <= 2)
          .select("qid", "qe", "cell")
        val w = Window.partitionBy("qid")
          .orderBy(col("cos_sim").desc, col("nid"))
        probes.join(corpus, Seq("cell"))
          .filter(col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"),
            round(fastCosine(col("qe"), col("ne")), 4).as("cos_sim"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("qid", "nid", "cos_sim")
          .orderBy(col("qid"), col("cos_sim").desc, col("nid"))
      },
      None,
      oracleGen = Some(ivfOracleSql)),

    // The composed 100 TB index: IVF cell routing (y5's cached √n-cell
    // quantizer) + PQ codes (y6's cached codebooks). A query probes its
    // 2 nearest cells and ADC-scans ONLY those cells' packed codes —
    // at 10⁹ vectors that is 2/√n of the corpus touched, as 8-byte
    // codes instead of 512-byte float arrays. Rows-only (two model
    // fits). Shares both model caches with y5/y6 — steady-state is
    // pure probe+scan.
    QueryDef(
      "y7_ivfpq_ann",
      (s, d) => {
        import graft.ml.Pq
        val e = featFrame(s, d)
        val cents = ivfCentroids(s, d)
        val pq = Pq.fitCached(s"pq:$d", e.select(col("features")), dims = EmbeddingDim)
        val q = e.filter(col("vec_id") === 0).head().getSeq[Double](1).toSeq
        // probe the 2 nearest cells driver-side: k centroids, tiny
        val probed = nearestCells(cents, q, 2)
        val table = Pq.adcTable(q, pq)
        // raw float column end to end (exact per-element casts inside the
        // native expressions): scan → argmin-filter → encode → ADC stays
        // one whole-stage-codegen pipeline, no HOF cast projection
        checkedEmbeddings(s, d)
          .withColumn("cell", ivfCellExpr(col("embedding"), cents))
          .filter(col("cell").isin(probed: _*) && col("vec_id") =!= 0)
          .select(col("vec_id"),
            Pq.encode(col("embedding"), pq).as("code"))
          .select(col("vec_id"),
            round(Pq.adcDistance(col("code"), table), 6).as("adc_d2"))
          .orderBy(col("adc_d2"), col("vec_id"))
          .limit(10)
      },
      None,
      oracleGen = Some(ivfPqOracleSql)),

    // Product-quantization ANN (IVF-PQ's codebook half): vectors
    // compress to one packed BIGINT of m 4-bit codes; a query scans
    // CODES, not vectors — per-row cost is m literal-table lookups.
    // Rows-only: codebooks come from iterative seeded KMeans fits.
    QueryDef(
        "y6_pq_ann",
        (s, d) => {
          import graft.ml.Pq
          val e = checkedEmbeddings(s, d)
          val model = Pq.fitCached(s"pq:$d", e.select(
              transform(col("embedding"), x => x.cast("double"))
                .as("features")), dims = EmbeddingDim)
          val q = e.filter(col("vec_id") === 0)
            .select(col("embedding")).head()
            .getSeq[Float](0).map(_.toDouble).toSeq
          val table = Pq.adcTable(q, model)
          e.filter(col("vec_id") =!= 0)
            .select(col("vec_id"),
              Pq.encode(col("embedding"), model).as("code"))
            .select(col("vec_id"),
              round(Pq.adcDistance(col("code"), table), 6).as("adc_d2"))
            .orderBy(col("adc_d2"), col("vec_id"))
            .limit(10)
        },
        None,
        oracleGen = Some(pqOracleSql)),

    // LSH-bucketed approximate neighbors: hyperplane sign bits → join
    // within buckets only (the 100 TB path: bucket join replaces the
    // quadratic cross join). Bit-width scales with the corpus
    // (scaledLshBits) so bucket occupancy — and the within-bucket
    // quadratic verify — stays bounded at 100×; `tables` independent
    // hash tables union their candidates for recall (candidate set is a
    // superset of any single table's, so recall is monotone in L).
    QueryDef(
      "y4_lsh_ann",
      (s, d) => lshTopK(checkedEmbeddings(s, d), k = 3,
        cacheKey = Some(s"emb:$d")),
      // Fully oracled (round 5): the seeded hyperplanes are plan-time
      // constants, so the oracle simply inlines the same literal matrix
      // and replays bucketing → banded self-join → distinct → cosine →
      // per-query top-3 in SQL. The round-9 skew guard is replayed too:
      // buckets ≤ 256 members join all-pairs; over-cap buckets degrade
      // to ±8 consecutive-rank chains in
      // ((vec_id % 1048573) * (2654435761 % 1048573)) % 1048573 scramble
      // order — operands pre-reduced so the product is integer-exact in
      // both engines at any id scale.
      Some(s"""WITH ${lshSigCtes(SimilarityOps.defaultSeeds)},
              |sigb AS (SELECT vec_id, tab, bucket,
              |           row_number() OVER (PARTITION BY tab, bucket
              |             ORDER BY ((vec_id % 1048573)
              |                       * (2654435761 % 1048573)) % 1048573,
              |                      vec_id) AS brk,
              |           count(*) OVER (PARTITION BY tab, bucket) AS bsz
              |         FROM sig),
              |cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
              |         FROM sigb a JOIN sigb b
              |           ON a.tab = b.tab AND a.bucket = b.bucket
              |         WHERE a.vec_id <> b.vec_id
              |           AND (a.bsz <= 256
              |             OR b.brk BETWEEN a.brk - 8 AND a.brk + 8)),
              |scored AS (SELECT c.qid, c.nid,
              |             round(${cosineSql("ea.embedding", "eb.embedding")}, 4)
              |               AS cos_sim
              |           FROM cand c
              |           JOIN embeddings ea ON ea.vec_id = c.qid
              |           JOIN embeddings eb ON eb.vec_id = c.nid),
              |ranked AS (SELECT qid, nid, cos_sim,
              |             row_number() OVER (PARTITION BY qid
              |               ORDER BY cos_sim DESC, nid) AS rk
              |           FROM scored)
              |SELECT qid, nid, cos_sim FROM ranked WHERE rk <= 3
              |ORDER BY qid, cos_sim DESC, nid""".stripMargin)),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-scoped
    // semantic dedup — k-means cells from a DEDUP-sized quantizer
    // (k ≈ n/256 so the exact within-cell triangle is the operating
    // regime, the paper's own sizing; y5's √n search quantizer measured
    // 793/2000 missed groups under the banded fallback — BENCH_SCALES),
    // within-cell pairwise cosine over tau, keep the least-centroid-
    // similar representative of every duplicate group. Complements the
    // LEXICAL dedup family (x6 MinHash / x7+x13 SimHash / x8 Jaccard)
    // and the LSH-bucketed cosine pass (x11/x26): here candidate scope
    // is the learned cluster, not a hash bucket, and the keep POLICY is
    // the paper's centroid-distance rule rather than min-id. 100 TB
    // shape: one k-means fit per corpus snapshot, the assignment table
    // materialized once (cachedSemDedupRanked), the pair join
    // equi-keyed on cell — never all-pairs across cells, O(n·256)
    // total triangle work.
    QueryDef(
      "y8_semdedup",
      (s, d) => semDedupVerdicts(cachedSemDedupRanked(s, d)),
      None,
      oracleGen = Some(semDedupOracleSql))
  )
}
