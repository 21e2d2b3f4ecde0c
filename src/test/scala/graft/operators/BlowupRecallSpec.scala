package graft.operators

import graft.{ScaleProbe, SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CI guard for the SCALE.md §ANN-recall methodology and conclusion:
  * on a statistics-invariant blow-up (every vector gains factor−1
  * distinct near-copies) the cosine ANN arms must keep finding the
  * true neighbors. Recall is the tie-robust THRESHOLD form the recall
  * probe behind SCALE.md established: a returned neighbor is a hit when
  * its TRUE cosine is at least as good as the query's k-th exact
  * cosine. Plain id-set overlap measures tie ORDERING here, not index
  * quality — by construction each query's top-k is drawn from near-
  * copies whose cosines tie at output precision, so the id sets are
  * arbitrary among ties (the probe's first id-overlap run scored
  * exactly 0.900 on every family for that reason).
  *
  * The probe measured x10 = 0.950 / x100 = 1.000 at output precision
  * on the sf0.1 corpus; this spec pins the same behavior at x10 of
  * sf0.001 (5 000 vectors — near-orthogonal base, the hardest angle-
  * hashing instance in the test data) so a regression in the chain
  * degrade, signature-width scaling, or IVF probe routing that quietly
  * traded recall for speed fails CI rather than only the per-round
  * probe run.
  */
class BlowupRecallSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private val srcSf = "/root/testdata/sf0.001"
  private val factor = 10
  private val k = 3
  private val nQ = 20
  // half the 4-dp rounding the contract queries emit: true ties at the
  // queries' own output precision count as hits
  private val outputEps = 5e-5

  /** blown corpus, written FRESH each run (a reused corpus could
    * silently predate a blowUpEmbeddings change — the staleness class
    * `ScaleUtils.dataTag` exists to kill). */
  @volatile private var dirWritten = false
  private lazy val dir: String = {
    val d = "/tmp/graft_spec_blowup_x10"
    ScaleProbe.blowUpEmbeddings(
        spark.read.parquet(s"$srcSf/embeddings.parquet"), factor)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    dirWritten = true
    d
  }

  override def afterAll(): Unit = {
    // fresh corpus each run → fresh content tag → the y5 path persisted
    // a NEW IVF model this run; delete it (and the corpus) or /tmp and
    // the warehouse accumulate one copy per suite run
    if (dirWritten) {
      def rm(f: java.io.File): Unit = if (f.exists()) {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      val tag = graft.etl.ScaleUtils.dataTag(s"$dir/embeddings.parquet")
      val warehouse = new java.io.File(spark.conf
        .get("spark.sql.warehouse.dir").stripPrefix("file:"))
      Option(warehouse.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(s"graft_ivf_${tag}_k"))
        .foreach(rm)
      rm(new java.io.File(dir))
    }
    super.afterAll()
  }

  private lazy val corpus: DataFrame =
    SimilarityOps.checkedEmbeddings(spark, dir).cache()

  /** exact per-qid k-th-best TRUE cosine (the recall threshold) — THE
    * shared implementation the probe's recorded numbers also use. */
  private lazy val kth: DataFrame =
    AnnEval.cosineThresholds(corpus, nQ, k).cache()

  private def thresholdRecall(approx: DataFrame, eps: Double): Double =
    AnnEval.thresholdRecall(approx, corpus, kth, nQ, k, eps)

  it("y4 LSH keeps threshold recall at blow-up scale " +
      "(near-copies found, not traded for chain speed)") {
    val y4 = SimilarityOps.lshTopK(corpus, k = k, maxQid = Some(nQ))
    val strict = thresholdRecall(y4, 1e-9)
    val at4dp = thresholdRecall(y4, outputEps)
    info(f"y4 x$factor recall: strict=$strict%.3f at-4dp=$at4dp%.3f")
    // measured 1.000 / 1.000 (deterministic seeds + blow-up); the floor
    // leaves room for one tie-boundary query, no more
    assert(at4dp >= 0.95,
      f"y4 at-output-precision recall $at4dp%.3f below floor at x$factor")
    assert(strict >= 0.90,
      f"y4 strict recall $strict%.3f below floor at x$factor")
  }

  it("y5 IVF keeps threshold recall at blow-up scale") {
    val y5 = SparkEntry.queries("y5_ivf_ann")(spark, dir)
    val strict = thresholdRecall(y5, 1e-9)
    val at4dp = thresholdRecall(y5, outputEps)
    info(f"y5 x$factor recall: strict=$strict%.3f at-4dp=$at4dp%.3f")
    assert(at4dp >= 0.95,
      f"y5 at-output-precision recall $at4dp%.3f below floor at x$factor")
    assert(strict >= 0.90,
      f"y5 strict recall $strict%.3f below floor at x$factor")
  }

  it("the blown corpus is the regime the claim is about: every query's " +
      "exact top-k is near-copy dominated") {
    // kth-best true cosine ≈ 1 for every query — the blow-up put
    // factor−1 near-copies (±2.2% per-dim perturbation) around each
    // source vector, which is what makes threshold recall the right
    // metric and id-overlap the wrong one
    val minKth = kth.agg(min("kth")).head().getDouble(0)
    info(f"min over qids of exact kth cosine: $minKth%.4f")
    assert(minKth >= 0.95,
      f"blow-up regime broken: exact $k-th cosine $minKth%.4f is far " +
        "field — near-copies missing, threshold recall would be vacuous")
  }
}
