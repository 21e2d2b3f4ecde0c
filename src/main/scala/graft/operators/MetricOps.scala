package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables => T}
import graft.metrics.{ClusterQuality, ClusteringMetrics, Hungarian, ReconLoss}
import graft.nn.Activations

/** The metrics layer exposed through the driver's oracle-checked query
  * surface: clustering-agreement metrics over a categorical pair on
  * `orders`, and internal cluster-quality metrics over `embeddings`
  * grouped by their `label` column. Each Spark side delegates to the
  * graft.metrics implementations (the same code the ML pipelines use);
  * the oracle re-derives the metric from the published formula in pure
  * SQL — so the formula itself is what gets cross-checked.
  */
object MetricOps {

  val defs: Seq[QueryDef] = Seq(

    // M4/M5/M6 — NMI (arithmetic), ARI, Fowlkes-Mallows of
    // o_orderstatus vs o_orderpriority. ONE scan of orders: a single
    // contingency groupBy collected (≤k² rows), all three metrics
    // finished driver-locally.
    QueryDef(
      "m4_cluster_agreement",
      (s, d) => {
        val df = T.orders(s, d)
          .select(col("o_orderstatus").as("label"),
            col("o_orderpriority").as("pred"))
        val a = ClusteringMetrics.agreement(df)
        s.range(1).select(
          round(lit(a.nmi), 6).as("nmi"),
          round(lit(a.ari), 6).as("ari"),
          round(lit(a.fowlkesMallows), 6).as("fm"))
      },
      Some("""WITH c AS (SELECT o_orderstatus AS l, o_orderpriority AS p,
                                CAST(count(*) AS DOUBLE) AS cnt
                         FROM orders GROUP BY 1, 2),
                   n AS (SELECT sum(cnt) AS n FROM c),
                   t AS (SELECT l, p, cnt,
                                sum(cnt) OVER (PARTITION BY l) AS ai,
                                sum(cnt) OVER (PARTITION BY p) AS bj FROM c),
                   mi AS (SELECT sum(cnt / n.n * ln(n.n * cnt / (ai * bj))) AS mi
                          FROM t, n),
                   hu AS (SELECT -sum(m / n.n * ln(m / n.n)) AS h
                          FROM (SELECT l, sum(cnt) AS m FROM c GROUP BY l) x, n),
                   hv AS (SELECT -sum(m / n.n * ln(m / n.n)) AS h
                          FROM (SELECT p, sum(cnt) AS m FROM c GROUP BY p) x, n),
                   pairs AS (SELECT
                     (SELECT sum(cnt * (cnt - 1) / 2) FROM c) AS sij,
                     (SELECT sum(m * (m - 1) / 2) FROM
                       (SELECT sum(cnt) AS m FROM c GROUP BY l)) AS sa,
                     (SELECT sum(m * (m - 1) / 2) FROM
                       (SELECT sum(cnt) AS m FROM c GROUP BY p)) AS sb,
                     (SELECT n FROM n) AS n)
              SELECT round(mi.mi / ((hu.h + hv.h) / 2), 6) AS nmi,
                     round((sij - sa * sb / (n * (n - 1) / 2))
                         / ((sa + sb) / 2 - sa * sb / (n * (n - 1) / 2)), 6) AS ari,
                     round(sij / sqrt(sa * sb), 6) AS fm
              FROM mi, hu, hv, pairs""")),

    // M8 — v-measure (homogeneity / completeness / harmonic mean) of the
    // same categorical pair; same single-contingency-scan finish
    // (ref import: Simulation_Models/CNC_AE_model_selection.py:20).
    QueryDef(
      "m8_vmeasure",
      (s, d) => {
        val df = T.orders(s, d)
          .select(col("o_orderstatus").as("label"),
            col("o_orderpriority").as("pred"))
        val a = ClusteringMetrics.agreement(df)
        s.range(1).select(
          round(lit(a.homogeneity), 6).as("homogeneity"),
          round(lit(a.completeness), 6).as("completeness"),
          round(lit(a.vMeasure), 6).as("v_measure"))
      },
      Some("""WITH c AS (SELECT o_orderstatus AS l, o_orderpriority AS p,
                                CAST(count(*) AS DOUBLE) AS cnt
                         FROM orders GROUP BY 1, 2),
                   n AS (SELECT sum(cnt) AS n FROM c),
                   a AS (SELECT l, sum(cnt) AS m FROM c GROUP BY l),
                   b AS (SELECT p, sum(cnt) AS m FROM c GROUP BY p),
                   hc AS (SELECT -sum(m / n.n * ln(m / n.n)) AS h FROM a, n),
                   hk AS (SELECT -sum(m / n.n * ln(m / n.n)) AS h FROM b, n),
                   hck AS (SELECT -sum(cnt / n.n * ln(cnt / b.m)) AS h
                           FROM c JOIN b ON c.p = b.p, n),
                   hkc AS (SELECT -sum(cnt / n.n * ln(cnt / a.m)) AS h
                           FROM c JOIN a ON c.l = a.l, n),
                   hcv AS (SELECT 1 - hck.h / hc.h AS hom,
                                  1 - hkc.h / hk.h AS com
                           FROM hck, hc, hkc, hk)
              SELECT round(hom, 6) AS homogeneity,
                     round(com, 6) AS completeness,
                     round(2 * hom * com / (hom + com), 6) AS v_measure
              FROM hcv""")),

    // M7 — Hungarian-remapped accuracy (k×k assignment solved on the
    // driver). Oracled by exhaustive enumeration: with 3 labels × 5
    // preds the optimum equals the max over all 60 injective
    // label→pred maps, which a recursive CTE enumerates — the general
    // k×k Hungarian stays driver-side, but its VALUE is SQL-checkable
    // at this fixture's k.
    QueryDef(
      "m7_hungarian_acc",
      (s, d) => {
        val df = T.orders(s, d)
          .select(col("o_orderstatus").as("label"),
            col("o_orderpriority").as("pred"))
        val (_, acc) = Hungarian.remap(df)
        s.range(1).select(round(lit(acc), 6).as("remapped_acc"))
      },
      Some("""WITH RECURSIVE
              c AS (SELECT o_orderstatus AS l, o_orderpriority AS p,
                           CAST(count(*) AS BIGINT) AS n
                    FROM orders GROUP BY 1, 2),
              ls AS (SELECT l, row_number() OVER (ORDER BY l) AS r
                     FROM (SELECT DISTINCT l FROM c)),
              ps AS (SELECT DISTINCT p FROM c),
              grid AS (SELECT ls.r, ps.p, coalesce(c.n, 0) AS n
                       FROM ls CROSS JOIN ps
                       LEFT JOIN c ON c.l = ls.l AND c.p = ps.p),
              a(step, used, tot) AS (
                SELECT 0, CAST([] AS VARCHAR[]), CAST(0 AS BIGINT)
                UNION ALL
                SELECT a.step + 1, list_append(a.used, g.p), a.tot + g.n
                FROM a JOIN grid g ON g.r = a.step + 1
                WHERE NOT list_contains(a.used, g.p))
              SELECT round(CAST(max(tot) AS DOUBLE)
                           / (SELECT sum(n) FROM c), 6) AS remapped_acc
              FROM a WHERE step = (SELECT max(r) FROM ls)""")),

    // M10 — Calinski-Harabasz over embeddings clustered by label.
    QueryDef(
      "m10_calinski",
      (s, d) => {
        val df = T.embeddings(s, d).select(
          transform(col("embedding"), x => x.cast("double")).as("features"),
          col("label").as("pred"))
        val ch = ClusterQuality.calinskiHarabasz(df)
        s.range(1).select(round(lit(ch), 6).as("ch"))
      },
      // sufficient-statistics form mirroring calinskiHarabasz: one
      // pass builds (Σv, Σv², n) cells; WG = Σ(Σv² − (Σv)²/n)
      Some("""WITH cell AS (SELECT label, i AS dim,
                       sum(CAST(embedding[i] AS DOUBLE)) AS s1,
                       sum(pow(CAST(embedding[i] AS DOUBLE), 2)) AS s2,
                       count(*) AS n
                     FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY 1, 2),
                   g AS (SELECT dim, sum(s1) / sum(n) AS gmean
                         FROM cell GROUP BY 1),
                   bg AS (SELECT sum(n * pow(s1 / n - gmean, 2)) AS bg
                          FROM cell JOIN g USING (dim)),
                   wg AS (SELECT sum(s2 - s1 * s1 / n) AS wg FROM cell),
                   meta AS (SELECT CAST(sum(n) AS DOUBLE) AS n,
                                   CAST(count(DISTINCT label) AS DOUBLE) AS k
                            FROM cell WHERE dim = 1)
              SELECT round((bg / (k - 1)) / (wg / (n - k)), 6) AS ch
              FROM bg, wg, meta""")),

    // M11 — Davies-Bouldin over embeddings clustered by label.
    QueryDef(
      "m11_davies_bouldin",
      (s, d) => {
        val df = T.embeddings(s, d).select(
          transform(col("embedding"), x => x.cast("double")).as("features"),
          col("label").as("pred"))
        val dbi = ClusterQuality.daviesBouldin(df)
        s.range(1).select(round(lit(dbi), 6).as("dbi"))
      },
      Some("""WITH cell AS (SELECT label, i AS dim,
                       avg(CAST(embedding[i] AS DOUBLE)) AS c
                     FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY 1, 2),
                   dist AS (SELECT e.vec_id, e.label,
                       sqrt(sum(pow(CAST(e.embedding[i] AS DOUBLE) - cell.c, 2))) AS dd
                     FROM embeddings e CROSS JOIN range(1, 65) t(i)
                     JOIN cell ON cell.label = e.label AND cell.dim = i
                     GROUP BY 1, 2),
                   s AS (SELECT label, avg(dd) AS s FROM dist GROUP BY 1),
                   cd AS (SELECT a.label AS la, b.label AS lb,
                       sqrt(sum(pow(a.c - b.c, 2))) AS dc
                     FROM cell a JOIN cell b
                       ON a.dim = b.dim AND a.label != b.label
                     GROUP BY 1, 2),
                   r AS (SELECT cd.la, max((sa.s + sb.s) / cd.dc) AS r
                         FROM cd JOIN s sa ON sa.label = cd.la
                              JOIN s sb ON sb.label = cd.lb
                         GROUP BY 1)
              SELECT round(avg(r), 6) AS dbi FROM r""")),

    // M9 — silhouette (cosine) over embeddings by label. Spark side is
    // Spark ML's O(n) algebraic implementation (normalized cluster-sum
    // vectors); the oracle is the O(n²) brute-force definition — the two
    // are mathematically identical (a point's cosine distance to itself
    // is 0, so the cluster-sum trick reproduces the exclude-self mean
    // exactly), and agree to 6 decimals at the verify SF.
    QueryDef(
      "m9_silhouette",
      (s, d) => {
        val df = T.embeddings(s, d).select(
          transform(col("embedding"), x => x.cast("double")).as("features"),
          col("label").as("pred"))
        val sil = ClusterQuality.silhouette(df, distance = "cosine")
        s.range(1).select(round(lit(sil), 6).as("silhouette"))
      },
      Some("""WITH e AS (SELECT vec_id, label,
                       [CAST(x AS DOUBLE) for x in embedding] AS v
                     FROM embeddings),
              pair AS (SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
                         1 - list_cosine_similarity(a.v, b.v) AS d
                       FROM e a JOIN e b ON a.vec_id <> b.vec_id),
              ab AS (SELECT i, li, lj, avg(d) AS md
                     FROM pair GROUP BY 1, 2, 3),
              s AS (SELECT i,
                      max(CASE WHEN li = lj THEN md END) AS a,
                      min(CASE WHEN li <> lj THEN md END) AS b
                    FROM ab GROUP BY i)
              SELECT round(avg(CASE WHEN a IS NULL THEN 0
                                    ELSE (b - a) / greatest(a, b) END), 6)
                       AS silhouette
              FROM s""")),

    // F1 — row L2-normalization, the kernel under every recon loss
    // (torch F.normalize semantics: max(norm, 1e-12) keeps zero rows
    // zero). Exercises ReconLoss.sumSq + l2NormalizeRows — the exact
    // Columns the NN evaluation path runs — against DuckDB recomputing
    // the normalization from scratch. Per-row outputs (norm, first and
    // last normalized components) so the hash check sees every row.
    QueryDef(
      "f1_l2_normalize",
      (s, d) => {
        val v = transform(col("embedding"), x => x.cast("double"))
        val n = ReconLoss.l2NormalizeRows(v)
        T.embeddings(s, d).select(
          col("vec_id"),
          round(sqrt(ReconLoss.sumSq(v)), 4).as("l2_norm"),
          round(element_at(n, 1), 6).as("n_first"),
          round(element_at(n, SimilarityOps.EmbeddingDim), 6).as("n_last"))
          .orderBy("vec_id")
      },
      Some("""WITH n AS (SELECT vec_id,
                       [CAST(x AS DOUBLE) for x in embedding] AS v
                     FROM embeddings),
              m AS (SELECT vec_id, v,
                      sqrt(list_sum([x * x for x in v])) AS nm
                    FROM n)
              SELECT vec_id, round(nm, 4) AS l2_norm,
                     round(v[1] / greatest(nm, 1e-12), 6) AS n_first,
                     round(v[64] / greatest(nm, 1e-12), 6) AS n_last
              FROM m ORDER BY vec_id""")),

    // A11 — the O1 orthogonality cost (mean elementwise product of
    // row-normalized embedding halves), grouped per label so the
    // aggregation stays distributed. Treats the two halves of the
    // 64-dim embedding as the (shared, specific) pair the JISAE-O1
    // training loss penalizes. Same ReconLoss Columns as the trainer.
    QueryDef(
      "a11_ortho_o1",
      (s, d) => {
        val v = transform(col("embedding"), x => x.cast("double"))
        val half = SimilarityOps.EmbeddingDim / 2
        val z1 = ReconLoss.l2NormalizeRows(slice(v, 1, half))
        val z2 = ReconLoss.l2NormalizeRows(slice(v, half + 1, half))
        T.embeddings(s, d)
          .select(col("label"),
            aggregate(zip_with(z1, z2, (x, y) => x * y),
              lit(0.0), (acc, p) => acc + p).as("row_sum"))
          .groupBy("label")
          .agg(round(sum("row_sum") / (count(lit(1)) * half), 6).as("o1"))
          .orderBy("label")
      },
      Some("""WITH h AS (SELECT label,
                       [CAST(x AS DOUBLE) for x in embedding[1:32]] AS a,
                       [CAST(x AS DOUBLE) for x in embedding[33:64]] AS b
                     FROM embeddings),
              n AS (SELECT label, a, b,
                      greatest(sqrt(list_sum([x * x for x in a])), 1e-12)
                        AS na,
                      greatest(sqrt(list_sum([x * x for x in b])), 1e-12)
                        AS nb
                    FROM h),
              r AS (SELECT label,
                      list_sum(list_transform(range(1, 33),
                        i -> (a[i] / na) * (b[i] / nb))) AS row_sum
                    FROM n)
              SELECT label, round(sum(row_sum) / (count(*) * 32), 6) AS o1
              FROM r GROUP BY label ORDER BY label""")),

    // A12 — the O2 orthogonality cost (sum of squared per-SAMPLE dots
    // of row-normalized embedding halves), per label: the dot stays
    // inside the row (codegen'd HOFs, no explode), then one hash
    // aggregation — cheapest of the three ortho costs at scale. Same
    // ReconLoss Columns as the JISAE-O2 training loss.
    QueryDef(
      "a12_ortho_o2",
      (s, d) => {
        val v = transform(col("embedding"), x => x.cast("double"))
        val half = SimilarityOps.EmbeddingDim / 2
        val z1 = ReconLoss.l2NormalizeRows(slice(v, 1, half))
        val z2 = ReconLoss.l2NormalizeRows(slice(v, half + 1, half))
        T.embeddings(s, d)
          .select(col("label"),
            aggregate(zip_with(z1, z2, (x, y) => x * y),
              lit(0.0), (acc, p) => acc + p).as("row_dot"))
          .groupBy("label")
          .agg(round(sum(pow(col("row_dot"), 2)), 6).as("o2"))
          .orderBy("label")
      },
      Some("""WITH h AS (SELECT label,
                       [CAST(x AS DOUBLE) for x in embedding[1:32]] AS a,
                       [CAST(x AS DOUBLE) for x in embedding[33:64]] AS b
                     FROM embeddings),
              n AS (SELECT label, a, b,
                      greatest(sqrt(list_sum([x * x for x in a])), 1e-12)
                        AS na,
                      greatest(sqrt(list_sum([x * x for x in b])), 1e-12)
                        AS nb
                    FROM h),
              r AS (SELECT label,
                      list_sum(list_transform(range(1, 33),
                        i -> (a[i] / na) * (b[i] / nb))) AS row_dot
                    FROM n)
              SELECT label, round(sum(row_dot * row_dot), 6) AS o2
              FROM r GROUP BY label ORDER BY label""")),

    // F7 — elementwise combine of embedding arrays (the MOCSS
    // shared-embedding average: mean of the two halves per dimension),
    // per row. Reuses ReconLoss.meanOf2 — the Column the embedding
    // extraction path (M24) runs. Output samples the combined vector
    // (first/mid/last dims) plus its row sum so every dimension
    // contributes to the hash.
    QueryDef(
      "f7_elementwise_mean",
      (s, d) => {
        val v = transform(col("embedding"), x => x.cast("double"))
        val half = SimilarityOps.EmbeddingDim / 2
        val m = ReconLoss.meanOf2(slice(v, 1, half), slice(v, half + 1, half))
        T.embeddings(s, d).select(
          col("vec_id"),
          round(element_at(m, 1), 6).as("m_first"),
          round(element_at(m, half / 2), 6).as("m_mid"),
          round(element_at(m, half), 6).as("m_last"),
          round(aggregate(m, lit(0.0), (acc, x) => acc + x), 6).as("m_sum"))
          .orderBy("vec_id")
      },
      Some("""WITH h AS (SELECT vec_id,
                       [CAST(x AS DOUBLE) for x in embedding[1:32]] AS a,
                       [CAST(x AS DOUBLE) for x in embedding[33:64]] AS b
                     FROM embeddings),
              m AS (SELECT vec_id,
                      list_transform(range(1, 33),
                        i -> (a[i] + b[i]) / 2) AS mv
                    FROM h)
              SELECT vec_id,
                     round(mv[1], 6) AS m_first,
                     round(mv[16], 6) AS m_mid,
                     round(mv[32], 6) AS m_last,
                     round(list_sum(mv), 6) AS m_sum
              FROM m ORDER BY vec_id""")),

    // A13 — the O3 orthogonality cost (sum of squared per-DIMENSION
    // dots across rows), per label: posexplode to (dim, product) long
    // form, one map-side-combined shuffle keyed (label, dim) — the
    // distributed shape that survives a width x rows scale-up. Same
    // ReconLoss normalization Columns as the JISAE-O3 training loss.
    QueryDef(
      "a13_ortho_o3",
      (s, d) => {
        val v = transform(col("embedding"), x => x.cast("double"))
        val half = SimilarityOps.EmbeddingDim / 2
        val z1 = ReconLoss.l2NormalizeRows(slice(v, 1, half))
        val z2 = ReconLoss.l2NormalizeRows(slice(v, half + 1, half))
        T.embeddings(s, d)
          .select(col("label"),
            posexplode(zip_with(z1, z2, (x, y) => x * y))
              .as(Seq("dim", "prod")))
          .groupBy("label", "dim").agg(sum("prod").as("col_dot"))
          .groupBy("label")
          .agg(round(sum(pow(col("col_dot"), 2)), 6).as("o3"))
          .orderBy("label")
      },
      Some("""WITH h AS (SELECT label,
                       [CAST(x AS DOUBLE) for x in embedding[1:32]] AS a,
                       [CAST(x AS DOUBLE) for x in embedding[33:64]] AS b
                     FROM embeddings),
              n AS (SELECT label, a, b,
                      greatest(sqrt(list_sum([x * x for x in a])), 1e-12)
                        AS na,
                      greatest(sqrt(list_sum([x * x for x in b])), 1e-12)
                        AS nb
                    FROM h),
              long AS (SELECT label, t.i AS dim,
                         (a[t.i] / na) * (b[t.i] / nb) AS prod
                       FROM n, range(1, 33) t(i)),
              dots AS (SELECT label, dim, sum(prod) AS col_dot
                       FROM long GROUP BY 1, 2)
              SELECT label, round(sum(col_dot * col_dot), 6) AS o3
              FROM dots GROUP BY label ORDER BY label""")),

    // F8 — the kernel's activation functions (sigmoid / tanh / relu) as
    // codegen'd Columns over a signed input ((l_quantity-25)/10 spans
    // ~[-2.4, +2.5], so both relu branches and the non-saturated
    // sigmoid/tanh range are exercised). Same scalar math as the batch
    // kernel's SigmoidSpec/TanhSpec/ReluSpec arms (ActivationsSpec pins
    // the equality). The oracle's DuckDB (1.0.0) ships no tanh builtin,
    // so the tanh column goes through the identity tanh(x) = 2σ(2x)−1 —
    // BOTH sides evaluate that same expression tree (still driving
    // Activations.sigmoid), keeping the comparison bit-exact instead of
    // trusting two libm tanh implementations to round alike.
    QueryDef(
      "f8_activations",
      (s, d) => {
        val x = (col("l_quantity") - lit(25.0)) / lit(10.0)
        T.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          round(Activations.sigmoid(x), 6).as("sig_x"),
          round(lit(2.0) * Activations.sigmoid(lit(2.0) * x) - lit(1.0), 6)
            .as("tanh_x"),
          round(Activations.relu(x), 6).as("relu_x"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber,
                     round(1.0 / (1.0 + exp(-((l_quantity - 25.0) / 10.0))), 6)
                       AS sig_x,
                     round(2.0 * (1.0 / (1.0 +
                       exp(-(2.0 * ((l_quantity - 25.0) / 10.0))))) - 1.0, 6)
                       AS tanh_x,
                     round(CASE WHEN (l_quantity - 25.0) / 10.0 > 0.0
                                THEN (l_quantity - 25.0) / 10.0
                                ELSE 0.0 END, 6) AS relu_x
              FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    // A14 — ClusterLoss usage-entropy term (contrastive_loss.py:79-84):
    // log k + Σ p log p of each view's cluster-usage distribution. Views
    // are the vec_id parity split; "usage" is the label mass per view
    // (the one-hot assignment-matrix column sums the dormant loss sees).
    // Distributed shape: ONE hash-agg to (view,label) counts (k·2 rows),
    // a tiny window for the per-view mass, and a broadcast 1-row k frame
    // — nothing driver-side. PlanSpec pins this formula to a local
    // log k + Σ p log p over a one-hot matrix of the same labels.
    QueryDef(
      "a14_usage_entropy",
      (s, d) => {
        val e = T.embeddings(s, d)
          .withColumn("view", pmod(col("vec_id"), lit(2)))
        val counts = e.groupBy("view", "label")
          .agg(count(lit(1)).cast("double").as("cnt"))
        val p = counts.withColumn("p",
          col("cnt") / sum("cnt").over(Window.partitionBy("view")))
        val kdf = e.select(countDistinct("label").cast("double").as("k"))
        p.groupBy("view")
          .agg(sum(col("p") * log(col("p"))).as("plogp"))
          .crossJoin(broadcast(kdf))
          .select(col("view"),
            round(log(col("k")) + col("plogp"), 6).as("neg_entropy"))
          .orderBy("view")
      },
      Some("""WITH c AS (SELECT vec_id % 2 AS view, label,
                                CAST(count(*) AS DOUBLE) AS cnt
                         FROM embeddings GROUP BY 1, 2),
                   p AS (SELECT view,
                                cnt / sum(cnt) OVER (PARTITION BY view) AS p
                         FROM c),
                   k AS (SELECT CAST(count(DISTINCT label) AS DOUBLE) AS k
                         FROM embeddings)
              SELECT view, round(ln(k.k) + sum(p * ln(p)), 6) AS neg_entropy
              FROM p, k GROUP BY view, k.k ORDER BY view""")),

    // A15 — the CCA cross-covariance block S12 (objectives.py:25-33:
    // centered cross-products / (m-1)) between the first 4 dims of each
    // embedding half, long-form (i, j, cov). One scan, sixteen
    // covar_samp aggregates in a single partial+final hash-agg, then a
    // plan-time stack to rows — no second pass, no driver math.
    // PlanSpec pins covar_samp against a local centred sample
    // covariance of the same 8 columns.
    QueryDef(
      "a15_cca_cov",
      (s, d) => {
        val dims = 4
        val v = transform(col("embedding"), x => x.cast("double"))
        val base = T.embeddings(s, d).select(
          (1 to dims).map(i => element_at(v, i).as(s"a$i")) ++
            (1 to dims).map(j => element_at(v, 32 + j).as(s"b$j")): _*)
        val aggs = for { i <- 1 to dims; j <- 1 to dims }
          yield round(covar_samp(col(s"a$i"), col(s"b$j")), 6)
            .as(s"c${i}_$j")
        val one = base.agg(aggs.head, aggs.tail: _*)
        val stackArgs = (for { i <- 1 to dims; j <- 1 to dims }
          yield s"$i, $j, c${i}_$j").mkString(", ")
        one.select(expr(
            s"stack(${dims * dims}, $stackArgs) AS (i, j, cov)"))
          .orderBy("i", "j")
      },
      Some {
        val dims = 4
        val rows = (for { i <- 1 to dims; j <- 1 to dims } yield
          s"""SELECT $i AS i, $j AS j,
                round(covar_samp(CAST(embedding[$i] AS DOUBLE),
                                 CAST(embedding[${32 + j}] AS DOUBLE)), 6)
                  AS cov FROM embeddings""").mkString("\nUNION ALL\n")
        s"SELECT i, j, cov FROM (\n$rows\n) ORDER BY i, j"
      })
  )
}
