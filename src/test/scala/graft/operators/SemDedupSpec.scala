package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins y8's over-cap chain degrade (SimilarityOps.semDedupVerdicts):
  * an over-cap k-means cell checks each member against only its chainK
  * rank-predecessors in (ccos, vec_id) order, and on the hazard
  * population — a dominant pile of near-identical vectors blowing the
  * 256 cap 4× — the kept set must MATCH the exact full-triangle rule,
  * because duplicate-group members hold contiguous ranks.
  *
  * Fixture: 4 synthetic centroids on distinct axes; 1000 near-copies of
  * axis-0 (cell 0, over-cap) plus 3 × 100 near-copies of axes 1-3
  * (small cells, exact arm). Every cell is a duplicate group, so the
  * verdict frame must keep exactly ONE member per cell — the paper's
  * least-centroid-similar representative (rank 1). */
class SemDedupSpec extends SparkSpec {

  it("over-cap cell: banded chain verdicts match the exact triangle, " +
      "one representative kept per duplicate group") {
    import spark.implicits._
    val dim = SimilarityOps.EmbeddingDim
    val cents: Seq[Seq[Double]] = (0 until 4).map(a =>
      Seq.tabulate(dim)(i => if (i == a) 1.0 else 0.0))
    def jitter(id: Long, i: Int): Float =
      (((id * 31 + i * 7) % 97) / 97000.0).toFloat
    val rows = (0L until 1300L).map { id =>
      val axis = if (id < 1000) 0 else (1 + ((id - 1000) / 100)).toInt
      val e = Array.tabulate(dim)(i =>
        (if (i == axis) 1.0f else 0.0f) + jitter(id, i))
      (id, e)
    }
    val emb = rows.toDF("vec_id", "embedding").cache()
    val ranked = SimilarityOps.semDedupRanked(emb, cents).cache()

    val sizes = ranked.groupBy("cell").agg(max("csz").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes(0L) == 1000L && sizes.values.count(_ > 256L) == 1,
      s"fixture must put exactly cell 0 over the cap, got $sizes")

    def keptSet(cap: Int) = SimilarityOps
      .semDedupVerdicts(ranked, cap = cap)
      .filter(col("kept") === 1L).select("vec_id")
      .collect().map(_.getLong(0)).toSet

    val banded = keptSet(cap = 256)
    val exact = keptSet(cap = Int.MaxValue)
    assert(banded == exact,
      s"chain degrade diverged from the full triangle: " +
        s"banded-only=${banded -- exact} exact-only=${exact -- banded}")

    // one representative per duplicate group (= per cell), and it is
    // the least-centroid-similar member (rank 1 in ccos, vec_id order)
    val rank1 = ranked.filter(col("rk") === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(banded == rank1 && banded.size == 4,
      s"expected the 4 rank-1 representatives, got $banded vs $rank1")
  }

  it("y8 assigns over the DEDUP quantizer (k for ~256-member cells, " +
      "not the sqrt(n) search geometry)") {
    // Regression guard for the measured r12 recall failure: assigning
    // over ivfCentroids' k = sqrt(n) produces sqrt(n)-sized cells whose
    // banded fallback missed 793/2000 duplicate groups at x100
    // (BENCH_SCALES §r12). dedupCentroids must keep the n/256 rule so the
    // exact triangle stays the operating regime. At sf0.001 (n = 500)
    // the two rules are distinguishable: dedup k = max(8, ceil(500/256))
    // = 8 vs search k = ceil(sqrt(500)) = 23.
    val d = "/root/testdata/sf0.001"
    assert(SimilarityOps.dedupCentroids(spark, d).length == 8)
    val cells = SimilarityOps.cachedSemDedupRanked(spark, d)
      .select("cell").distinct().count()
    assert(cells <= 8,
      s"assignment frame uses $cells cells — not the dedup quantizer")
  }
}
