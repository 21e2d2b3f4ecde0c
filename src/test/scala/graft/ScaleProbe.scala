package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Synthetic decade blow-up of the text/ANN/streaming tables: `factor`
  * deterministic copies of the source tables, built so the CORPUS
  * STATISTICS stay scale-invariant — growth mirrors a larger crawl of
  * the same distribution rather than an artifact-ridden duplication
  * stress. The blow-up decades in BENCH_SCALES.md and SCALE.md were
  * measured on corpora written by exactly these functions; the specs
  * (ScaleProbeSpec, BlowupRecallSpec) pin their invariants.
  *
  *  - documents: copy k keeps copy 0's text verbatim only for k=0; every
  *    other copy salts EACH WORD with a (word, k)-keyed suffix. Token
  *    count, word-length profile and whitespace shape are preserved, but
  *    shingle/minhash/simhash content is distinct across copies, so the
  *    exact+near duplicate FRACTION of the blown-up corpus equals the
  *    source corpus's (docs identical within the source stay identical
  *    within each copy — same transform — and no cross-copy dups appear).
  *    A naive `union` of verbatim copies would instead make every doc a
  *    member of a `factor`-sized dup cluster — a different workload whose
  *    cost is dominated by inflated dup structure, not data volume.
  *  - embeddings: copy k shifts ids and adds a per-(copy, dimension)
  *    deterministic perturbation of ±11 * 2e-3 ≈ 2% of typical coordinate
  *    scale — vectors are distinct (no degenerate equal-vector LSH/IVF
  *    buckets) but cluster membership is preserved, so bucket occupancy
  *    grows linearly like a larger corpus drawn from the same mixture.
  *  - events: copy k is a FRESH user population (user_id shifted far past
  *    the source range) over the SAME time span — arrival density and
  *    stateful-query key cardinality (sessions, dedup state) scale
  *    linearly, exactly how a larger deployment looks; watermark horizon
  *    and window spans are unchanged.
  *
  * Determinism: pure column arithmetic on (value, copy index) — no RNG,
  * no wall clock — so two runs produce byte-identical content rowsets.
  */
object ScaleProbe {

  /** Far past any source id range (sf0.1 ids are < 1e6). */
  private val Stride = 100_000_000L

  /** Salt modulus 2^20: cross-copy suffix collision for a doc is
    * ~(1/2^20)^words, negligible even for one-word documents (mod 97 made
    * the no-cross-copy-dups claim merely probabilistic for short docs).
    */
  private def saltWords(text: Column, k: Column): Column =
    concat_ws(" ", transform(split(text, " "),
      w => concat(w, lit("~"), pmod(xxhash64(w, k), lit(1 << 20)))))

  /** Copy fan-out as a crossJoin with `range(factor)` rather than a
    * `factor`-way union: the union plan is a left-deep tree `factor`
    * levels tall, which chokes analysis well before the r12 fourth-
    * decade factor (10 000). Bit-compatible with the union form at any
    * factor: the copy index reaches [[saltWords]] as the same INT value
    * xxhash64 hashed before (`__k` is cast to int — a long would hash
    * differently), k = 0 keeps the original text and n_chars, and ids
    * shift by the same k·Stride. */
  def blowUpDocuments(docs: DataFrame, factor: Int): DataFrame = {
    val ks = docs.sparkSession.range(0, factor)
      .select(col("id").cast("int").as("__k"))
    docs.crossJoin(ks)
      .withColumn("text", when(col("__k") === 0, col("text"))
        .otherwise(saltWords(col("text"), col("__k"))))
      .withColumn("n_chars", when(col("__k") === 0, col("n_chars"))
        .otherwise(length(col("text")).cast("long")))
      .withColumn("doc_id",
        col("doc_id") + col("__k").cast("long") * lit(Stride))
      .select(docs.columns.map(col).toSeq: _*)
  }

  def blowUpEmbeddings(emb: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      if (k == 0) emb
      else emb
        .withColumn("embedding", transform(col("embedding"), (x, i) =>
          // Hash-keyed per-(copy, dimension) offset in [-11, 11]: the old
          // affine pmod(k*131 + i*31, 23) was periodic in k with period
          // 23, so copies k and k+23 perturbed identically -> exact
          // duplicate vectors at factor >= 24. xxhash64 over (k, i) has
          // no period within any reachable factor.
          x + (pmod(xxhash64(lit(k), i), lit(23L)) - lit(11L))
            .cast("float") * lit(2e-3f)))
        .withColumn("vec_id", col("vec_id") + lit(k * Stride))
        .select(emb.columns.map(col).toSeq: _*)
    }.reduce(_.unionByName(_))

  def blowUpEvents(ev: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      if (k == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(k * Stride))
        .withColumn("user_id", col("user_id") + lit(k * Stride))
        .select(ev.columns.map(col).toSeq: _*)
    }.reduce(_.unionByName(_))
}
