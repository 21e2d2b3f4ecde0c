package graft.ml

import graft.SparkSpec
import graft.functions.{CentroidCosine, NearestCentroid, TwoLevelNearestCell}
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** The r13 quantizer-ceiling lift: sampled two-level k ∝ n fit
  * (ml.Quantizer) + the native assignment/ccos kernels it rides on.
  * BENCH_SCALES §r13 records the RECALL half (forced-regime arms on the
  * blow-up corpora); this pins the deterministic semantics. */
class QuantizerSpec extends SparkSpec {

  private val dim = 8

  private def mkEmb(n: Int): Seq[(Long, Array[Float])] =
    (0L until n).map { id =>
      // 4 well-separated axis clusters with deterministic jitter
      val axis = (id % 4).toInt
      val e = Array.tabulate(dim)(i =>
        (if (i == axis) 1.0f else 0.0f) +
          (((id * 31 + i * 7) % 97) / 970.0).toFloat)
      (id, e)
    }

  it("dedupKTotal has no ceiling: k ∝ n past the old 4096 cap") {
    assert(SimilarityOps.dedupKTotal(500) == 8)
    assert(SimilarityOps.dedupKTotal(1 << 20) == 4096)
    // past the old cap the rule keeps scaling instead of pinning
    assert(SimilarityOps.dedupKTotal(16_800_000L) == 65625)
    assert(SimilarityOps.dedupKTotal(1_000_000_000L) == 3906250)
  }

  it("TwoLevelNearestCell with k1=1 degenerates to the flat argmin " +
      "bit-for-bit") {
    import spark.implicits._
    val cents: Seq[Seq[Double]] = (0 until 4).map(a =>
      Seq.tabulate(dim)(i => if (i == a) 1.0 else 0.0))
    val df = mkEmb(200).toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        TwoLevelNearestCell.two_level_cell(col("embedding"),
          coarse = Seq(Seq.fill(dim)(0.0)), sub = cents).as("two"),
        NearestCentroid.nearest_centroid(col("embedding"), cents).as("flat"))
      .filter(col("two") =!= col("flat")).count()
    assert(got == 0L)
  }

  it("TwoLevelNearestCell routes coarse-then-sub (argmin within the " +
      "chosen block, ties to lowest index)") {
    import spark.implicits._
    // coarse axis-0/axis-1; each coarse cell split into 2 sub cells at
    // +0.25 / +0.75 along dim 2 — assignment must match a driver-side
    // replay of the same two-stage rule
    val coarse = Seq(
      Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0),
      Seq.tabulate(dim)(i => if (i == 1) 1.0 else 0.0))
    val sub = Seq(
      Seq.tabulate(dim)(i => if (i == 0) 1.0 else if (i == 2) 0.25 else 0.0),
      Seq.tabulate(dim)(i => if (i == 0) 1.0 else if (i == 2) 0.75 else 0.0),
      Seq.tabulate(dim)(i => if (i == 1) 1.0 else if (i == 2) 0.25 else 0.0),
      Seq.tabulate(dim)(i => if (i == 1) 1.0 else if (i == 2) 0.75 else 0.0))
    val rows = (0L until 400L).map { id =>
      val e = Array.tabulate(dim)(i =>
        (if (i == (id % 2).toInt) 1.0f else 0.0f) +
          (if (i == 2) ((id % 10) / 10.0f) else 0.0f))
      (id, e)
    }
    def argmin(v: Array[Float], cs: Seq[Seq[Double]], from: Int, k: Int): Int = {
      var best = 0; var bestD = Double.PositiveInfinity
      for (c <- 0 until k) {
        var dist = 0.0
        for (i <- 0 until dim) {
          val diff = v(i).toDouble - cs(from + c)(i); dist += diff * diff
        }
        if (dist < bestD) { bestD = dist; best = c }
      }
      best
    }
    val expected = rows.map { case (id, v) =>
      val c1 = argmin(v, coarse, 0, 2)
      id -> (c1.toLong * 2 + argmin(v, sub, c1 * 2, 2))
    }.toMap
    val got = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), TwoLevelNearestCell
        .two_level_cell(col("embedding"), coarse, sub).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  it("CentroidCosine matches fastCosine against the same centroid " +
      "bit-for-bit") {
    import spark.implicits._
    val cents: Seq[Seq[Double]] = (0 until 4).map(a =>
      Seq.tabulate(dim)(i => if (i == a) 1.0 else 0.1 * ((a + i) % 3)))
    val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    val df = mkEmb(200).toDF("vec_id", "embedding")
      .withColumn("cell", NearestCentroid
        .nearest_centroid(col("embedding"), cents))
    val diff = df.select(
        CentroidCosine.centroid_cosine(col("embedding"), col("cell"), cents)
          .as("native"),
        SimilarityOps.fastCosine(col("embedding"),
          element_at(centLit, (col("cell") + lit(1L)).cast("int")))
          .as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(diff == 0L)
  }

  it("fitTwoLevel is deterministic and produces the declared geometry") {
    import spark.implicits._
    val df = mkEmb(2000).toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("features"))
      .cache()
    def fit() = {
      Quantizer.clearCacheForTest()
      Clustering.clearModelCacheForTest()
      Quantizer.fitTwoLevel(df, n = 2000, kTotal = 12)
    }
    val a = fit()
    val b = fit()
    assert(a.k1 == 4 && a.k2 == 3 && a.k == 12)
    assert(a.coarse == b.coarse && a.sub == b.sub,
      "two fits over the same data diverged — fit is not deterministic")
  }

  it("forced over-ceiling routing: cachedSemDedupRanked takes the " +
      "scaled fit and the kept set still satisfies the pair rule") {
    val d = "/root/testdata/sf0.001" // n=500, kTotal=8
    // the DEFAULT routing cap is the flat ceiling MaxIvfCells: the default
    // call and an explicit MaxIvfCells call share one cap-keyed frame,
    // and the IVF ceiling does not bind at n = 500 (k = ⌈√500⌉ = 23)
    assert(SimilarityOps.cachedSemDedupRanked(spark, d) eq
      SimilarityOps.cachedSemDedupRanked(spark, d, SimilarityOps.MaxIvfCells))
    assert(SimilarityOps.ivfCentroids(spark, d).length == 23)
    // force 8 > 4 → scaled
    val ranked = SimilarityOps.cachedSemDedupRanked(spark, d, cap = 4)
    val cells = ranked.select("cell").distinct().count()
    assert(cells > 4 && cells <= 9, // k1=3, k2=3 → up to 9 cells
      s"expected the two-level 3x3 geometry, got $cells cells")
    val v = SimilarityOps.semDedupVerdicts(ranked)
    // paper invariant: among kept members of one cell, no pair over tau
    val kept = v.filter(col("kept") === 1L)
      .join(ranked.select("vec_id", "embedding"), "vec_id")
    val overTau = kept.as("a").join(kept.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(SimilarityOps.fastCosine(col("a.embedding"),
        col("b.embedding")) > SimilarityOps.SemDedupTau)
      .count()
    assert(overTau == 0L,
      s"$overTau kept same-cell pairs exceed tau — pair rule violated")
    // and every non-empty cell keeps its rank-1 representative
    val rank1NotKept = v.filter(col("kept") === 0L)
      .join(ranked.filter(col("rk") === 1).select("vec_id"), "vec_id")
      .count()
    assert(rank1NotKept == 0L)
  }
}
