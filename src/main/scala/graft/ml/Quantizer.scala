package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.concurrent.TrieMap

/** Sampled two-level k-means quantizer — the k ∝ n fit that lifts the
  * flat quantizer's k ceiling (VERDICT r12 ask #1).
  *
  * The flat dedup quantizer (SimilarityOps.dedupCentroids) fits KMeans
  * on the FULL corpus at k ≈ n/256, which caps at k = 4096 because both
  * the fit (O(iter·n·k·d)) and the flat argmin assignment (k·d per
  * vector) grow super-linearly past it — and past the cap, cells regrow
  * and SemDeDup's banded fallback has MEASURED recall loss (BENCH_SCALES
  * r12: 793/2000 duplicate groups kept ≥2 members at √n-sized cells).
  * This fit removes the ceiling with the standard hierarchical envelope:
  *
  *  - k1 = ⌈√kTotal⌉ coarse cells, fit by Spark ML KMeans on a BOUNDED
  *    deterministic sample (~64 training points per coarse centroid,
  *    hash-selected — no RNG state, replayable);
  *  - k2 = ⌈kTotal/k1⌉ sub-centroids per coarse cell, fit DISTRIBUTED:
  *    a second (~64·kTotal-point) hash sample is assigned to coarse
  *    cells with the native argmin expression, then one local Lloyd's
  *    run per coarse cell inside `mapGroups` — each group is a bounded
  *    ~64·k2-point local problem, the fleet of k1 sub-fits
  *    parallelizes across executors, and NO step ever collects corpus
  *    data to the driver (the returned model is k·d doubles — the
  *    centroids themselves — which is the broadcast-once FAISS-style
  *    centroid table any IVF engine ships to workers).
  *
  * Total fit cost: sample scan O(n) + coarse fit O(S1·k1·d) + sub fits
  * O(S2·k2·d) with S1, S2 ≪ n — linear in n end to end; assignment via
  * [[graft.functions.TwoLevelNearestCell]] is (k1+k2)·d ≈ 2√k·d per
  * vector. At n = 10⁹ (k ≈ 4 M): k1 = k2 ≈ 2000, per-vector assign
  * ~256 K flops (vs 256 M flat), centroid table ~2 GB — RAM-resident
  * per executor, shipped once.
  *
  * Determinism: sampling is xxhash64-thresholded (content-keyed, no
  * RNG), the coarse KMeans is seeded, sub-fit members are sorted and
  * the local Lloyd's init is evenly-spaced over a multiplicative
  * scramble of vec_id — two fits over the same data produce identical
  * centroids (QuantizerSpec pins this), and `persistPath` makes the
  * fit-once guarantee survive JVM restarts like the flat model cache.
  */
object Quantizer {

  /** Coarse-major sub layout: global cell (c1, c2) = flat row c1·k2+c2. */
  case class TwoLevel(coarse: Seq[Seq[Double]], sub: Seq[Seq[Double]],
      k1: Int, k2: Int) {
    def k: Int = k1 * k2
    require(coarse.length == k1 && sub.length == k1 * k2,
      s"two-level shape mismatch: |coarse|=${coarse.length} (k1=$k1), " +
      s"|sub|=${sub.length} (k1·k2=${k1 * k2})")
  }

  /** ~targetPerCell members per final cell (the SemDeDup sizing). */
  val TrainPointsPerCentroid = 64L

  private val cache = TrieMap.empty[String, TwoLevel]

  private[graft] def clearCacheForTest(): Unit = cache.clear()

  /** Deterministic ~`target`-row uniform sample: keep rows whose salted
    * vec_id hash falls under the proportional threshold. Content-keyed
    * (survives repartitioning), no RNG state, disjoint salts decorrelate
    * the coarse and sub samples. */
  private def hashSample(df: DataFrame, idCol: String, n: Long,
      target: Long, salt: Long): DataFrame =
    if (target >= n) df
    else {
      val thresh = math.max(1L, (1000000L * target) / n)
      df.filter(pmod(xxhash64(lit(salt), col(idCol)), lit(1000000L)) < thresh)
    }

  /** Local Lloyd's over a (sorted) member block — the per-coarse-cell
    * sub-fit. Init = k evenly-spaced members in multiplicative-scramble
    * order (deterministic, decorrelated from id order); ties → lowest
    * index; an empty cluster keeps its previous centroid. */
  private[ml] def localKMeans(members: Array[Array[Double]], k: Int,
      iters: Int = 10): Array[Array[Double]] = {
    val m = members.length
    val d = members.head.length
    if (m <= k) return members // caller pads the remainder
    val cents = Array.tabulate(k)(j => members((j.toLong * m / k).toInt).clone())
    val assign = new Array[Int](m)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < m) {
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          var dist = 0.0
          var j = 0
          while (j < d) {
            val diff = members(i)(j) - cents(c)(j)
            dist += diff * diff
            j += 1
          }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Long](k)
      i = 0
      while (i < m) {
        val c = assign(i)
        counts(c) += 1
        var j = 0
        while (j < d) { sums(c)(j) += members(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < d) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** The id scramble the sub-fit init orders by — same modulus/multiplier
    * family as the LSH bucket scramble (exact in Long for any id). */
  private def scramble(id: Long): Long =
    ((id % 1048573L) * (2654435761L % 1048573L)) % 1048573L

  /** Fit (or load) the two-level quantizer for `kTotal` cells over
    * `df(idCol: long, featCol: array<double>)` with `n` rows. */
  def fitTwoLevel(df: DataFrame, n: Long, kTotal: Int,
      idCol: String = "vec_id", featCol: String = "features",
      seed: Long = 42, persistPath: Option[String] = None): TwoLevel = {
    val k1 = math.max(1, math.ceil(math.sqrt(kTotal.toDouble)).toInt)
    val k2 = math.max(1, math.ceil(kTotal.toDouble / k1).toInt)

    // coarse: seeded KMeans on a bounded hash sample
    val s1 = math.min(n, math.max(8192L, TrainPointsPerCentroid * k1))
    val coarseModel = Clustering.kmeansModelCached(
      s"q2l-coarse:${persistPath.getOrElse(df.hashCode.toString)}:$k1",
      hashSample(df, idCol, n, s1, seed), k = k1, seed = seed,
      featuresCol = featCol, maxIter = 10,
      persistPath = persistPath.map(p => s"$p/coarse_k$k1"))
    val coarse = coarseModel.clusterCenters.toSeq.map(_.toArray.toSeq)

    // sub: distributed per-coarse-cell local fits over a second sample
    val subPath = persistPath.map(p => s"$p/sub_k${k1}x$k2.parquet")
    val spark = df.sparkSession
    val loaded = subPath.filter(p =>
      new java.io.File(p.stripPrefix("file:")).exists())
      .map(p => spark.read.parquet(p))
    val subRows: Array[(Int, Seq[Seq[Double]])] = loaded match {
      case Some(saved) =>
        // normalize row-decoded collections to immutable Vectors —
        // Row.getSeq materializes mutable.ArraySeq elements, which
        // must be typed collection.Seq here (scala.Seq = immutable.Seq
        // on 2.13 would insert a failing cast) and converted before
        // the downstream array building assumes one element type
        saved.collect().map(r =>
          (r.getInt(0),
            r.getSeq[scala.collection.Seq[Double]](1).map(_.toVector)
              .toVector: Seq[Seq[Double]])).sortBy(_._1)
      case None =>
        import spark.implicits._
        val s2 = math.min(n, TrainPointsPerCentroid * k1.toLong * k2)
        val fitted = hashSample(df, idCol, n, s2, seed + 1)
          .select(col(idCol).cast("long").as("id"), col(featCol).as("f"),
            graft.functions.NearestCentroid
              .nearest_centroid(col(featCol), coarse).as("c1"))
          .as[(Long, Seq[Double], Long)]
          .groupByKey(_._3)
          .mapGroups { (c1, it) =>
            // (scramble, id) is a total deterministic order — run-to-run
            // stable regardless of shuffle arrival order — and spreads
            // the evenly-spaced init across the id space
            val ordered = it.map { case (id, f, _) => (id, f.toArray) }
              .toArray.sortBy { case (id, _) => (scramble(id), id) }
              .map(_._2)
            val cents = localKMeans(ordered, k2)
            (c1.toInt, cents.map(_.toSeq).toSeq)
          }
          .collect().sortBy(_._1)
        val asMap = fitted.toMap
        // a coarse cell with no sample member (or fewer members than k2)
        // pads with its own coarse centroid: assignment then resolves to
        // the first padded row by the lowest-index tie break — harmless
        // empty sub-cells, never a wrong assignment
        val full = (0 until k1).map { c1 =>
          val got = asMap.getOrElse(c1, Seq.empty)
          (c1, got ++ Seq.fill(k2 - got.length)(coarse(c1)))
        }.toArray
        subPath.foreach { p =>
          spark.createDataFrame(full.toSeq).toDF("c1", "cents")
            .write.mode("overwrite").parquet(p)
        }
        full
    }
    val sub = subRows.flatMap { case (c1, cents) =>
      val cl = cents.map(_.toVector)
      val padded = cl ++ Seq.fill(k2 - cl.length)(coarse(c1).toVector)
      padded.take(k2)
    }.toSeq
    TwoLevel(coarse, sub, k1, k2)
  }

  /** Memoized [[fitTwoLevel]] — fit once per (dataset, geometry) per
    * JVM, like the flat model cache. */
  def fitTwoLevelCached(key: String, df: => DataFrame, n: Long, kTotal: Int,
      idCol: String = "vec_id", featCol: String = "features",
      seed: Long = 42, persistPath: Option[String] = None): TwoLevel =
    cache.getOrElseUpdate(s"$key:$kTotal",
      fitTwoLevel(df, n, kTotal, idCol, featCol, seed, persistPath))
}
