package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EtlSpec extends SparkSpec {

  private def simFile = graft.SimFixture.path

  describe("OmicsReader.readTransposed (S1)") {
    lazy val m = OmicsReader.readTransposed(spark, simFile)
    lazy val rows = m.data.collect()

    it("produces 600 samples x 1046 features") {
      assert(rows.length == 600)
      assert(rows.forall(_.getSeq[Double](1).length == 1046))
    }

    it("keeps file feature order and exact values (pandas .T parity)") {
      // first data row of the file: "mmu-let-7c-2-3p" with value 71 for
      // sample Group1.Time1.Rep1 (SimFixture writes both by construction)
      val fn = m.featureNames.orderBy("feature_idx").head()
      // feature_idx is LongType (ADVICE r10: Int wraps past 2^31 rows)
      assert(fn.getLong(0) == 0L && fn.getString(1) == "mmu-let-7c-2-3p")
      val r1 = rows.find(_.getString(0) == "Group1.Time1.Rep1").get
      assert(r1.getSeq[Double](1).head == 71.0)
    }

    it("derives Group labels from the sample-id prefix (F2/F3)") {
      val labeled = LabelCodec.withDerivedLabel(
        m.data, LabelCodec.simulationLabelMap)
      val counts = labeled.groupBy("label", "label_idx").count()
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(counts == Set(("Group1", 0, 300L), ("Group2", 1, 300L)))
    }
  }

  describe("Splits (SP1/SP2/SP3)") {
    // cached: every action below would otherwise redo the read+transpose
    lazy val df = LabelCodec.withDerivedLabel(
      OmicsReader.readTransposed(spark, simFile).data,
      LabelCodec.simulationLabelMap).cache()

    it("stratified 80/20 split has exact per-class counts and is a partition") {
      val s = Splits.stratifiedFlag(df, "label", "sample_id", 0.8, 42)
      val byClass = s.groupBy("label")
        .agg(sum(when(col("is_train"), 1).otherwise(0)).as("tr"),
          count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      byClass.foreach { case (_, tr, n) =>
        assert(tr == math.round(n * 0.8))
      }
      assert(s.count() == df.count())
    }

    it("is deterministic in the seed") {
      def trainKeys(seed: Long) =
        Splits.stratifiedFlag(df, "label", "sample_id", 0.8, seed)
          .filter(col("is_train")).select("sample_id")
          .collect().map(_.getString(0)).toSet
      assert(trainKeys(42) == trainKeys(42))
      assert(trainKeys(42) != trainKeys(7))
    }

    it("k-fold assignment is balanced and stratified") {
      val f = Splits.stratifiedKFold(df, "label", "sample_id", 5, 21)
      val sizes = f.groupBy("label", "fold").count()
        .collect().map(_.getLong(2))
      assert(sizes.length == 10) // 2 classes x 5 folds
      assert(sizes.max - sizes.min <= 1)
    }
  }

  describe("Scalers.MinMax (A1)") {
    it("matches sklearn semantics incl. constant column -> 0") {
      import spark.implicits._
      // FIXTURES.md §1.3: 4x3 with constant col and negatives
      val df = Seq(
        Seq(1.0, 5.0, -2.0),
        Seq(3.0, 5.0, 0.0),
        Seq(2.0, 5.0, 2.0),
        Seq(0.0, 5.0, -1.0)).toDF("features")
      val out = Scalers.fitTransform(df).collect()
        .map(_.getSeq[Double](0)).sortBy(_.head)
      assert(out(0) == Seq(0.0, 0.0, 0.25))         // x=0 -> 0; const -> 0
      assert(out(3) == Seq(1.0, 0.0, 0.5))          // x=3 -> 1
      val col2 = out.map(_(2))
      assert(col2.min == 0.0 && col2.max == 1.0)
    }

    it("fits a wide 8 x 20,531 frame to the exact per-column min/max") {
      import spark.implicits._
      // TCGA RNA-seq width: the fit must stay linear in the row width
      val width = 20531
      val rng = new java.util.SplittableRandom(11L)
      val df = Seq.fill(8)(Array.fill(width)(rng.nextDouble() * 100 - 50))
        .toDF("features").cache()
      df.count()
      val t0 = System.nanoTime()
      val fitted = Scalers.fit(df).head()
      info(f"fit: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val want = df.select(posexplode(col("features")))
        .groupBy("pos").agg(min("col"), max("col"))
        .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1).map(_._2)
      assert(want.length == width)
      assert(fitted.getSeq[Double](0) == want.map(_._1).toSeq)
      assert(fitted.getSeq[Double](1) == want.map(_._2).toSeq)
      df.unpersist()
    }

    it("scales the simulation matrix into [0,1] per feature") {
      val m = OmicsReader.readTransposed(spark, simFile).data
      val scaled = Scalers.fitTransform(m)
      val agg = scaled.select(
        min(array_min(col("features"))).as("mn"),
        max(array_max(col("features"))).as("mx")).head()
      assert(agg.getDouble(0) >= 0.0 && agg.getDouble(1) <= 1.0)
    }
  }

  describe("OmicsReader.readSamplesAsRows (S2/S4, text+split formulation)") {
    it("parses the TCGA header shape (pandas empty index cell = _c0)") {
      val f = java.nio.file.Files.createTempFile("graft-s2", ".tsv")
      java.nio.file.Files.writeString(f,
        "\tgene_a\tgene_b\tgene_c\nS1\t0.1\t0.2\t0.3\nS2\t1.5\t2.5\t3.5\n")
      val m = OmicsReader.readSamplesAsRows(spark, f.toString)
      val rows = m.data.orderBy("sample_id").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("S1", "S2"))
      assert(rows(0).getSeq[Double](1) == Seq(0.1, 0.2, 0.3))
      assert(rows(1).getSeq[Double](1) == Seq(1.5, 2.5, 3.5))
      assert(m.featureNames.orderBy("feature_idx").collect()
        .map(_.getString(1)).toSeq == Seq("gene_a", "gene_b", "gene_c"))
    }

    it("survives a Generate over features under ANSI (inferred-filter " +
        "cast hazard)") {
      // regression (r10): posexplode over `features` makes
      // InferFiltersFromGenerate copy size(features) > 0 into the same
      // Filter as the header drop, and codegen subexpression
      // elimination evaluates the transform's strict ANSI cast BEFORE
      // the header-equality conjunct — without the reader's header
      // guard this threw CAST_INVALID_INPUT on the header row itself
      import org.apache.spark.sql.functions._
      val f = java.nio.file.Files.createTempFile("graft-s2g", ".tsv")
      java.nio.file.Files.writeString(f,
        "sid\tg1\tg2\nS1\t0.5\t1.5\nS2\t2.0\t3.0\n")
      val m = OmicsReader.readSamplesAsRows(spark, f.toString, idCol = "sid")
      val rows = m.data
        .select(col("sample_id"), posexplode(col("features")))
        .orderBy("sample_id", "pos").collect()
      assert(rows.length == 4)
      assert(rows.map(_.getDouble(2)).toSeq == Seq(0.5, 1.5, 2.0, 3.0))
      // strictness is preserved for genuinely malformed DATA rows
      val bad = java.nio.file.Files.createTempFile("graft-s2b", ".tsv")
      java.nio.file.Files.writeString(bad,
        "sid\tg1\nS1\tnot_a_number\n")
      val e = intercept[Exception] {
        OmicsReader.readSamplesAsRows(spark, bad.toString, idCol = "sid")
          .data.select(col("sample_id"), posexplode(col("features")))
          .collect()
      }
      assert(e.getMessage.contains("CAST_INVALID_INPUT") ||
        Option(e.getCause).exists(_.getMessage.contains("CAST_INVALID_INPUT")))
    }

    it("honors a NAMED id column in any position") {
      val f = java.nio.file.Files.createTempFile("graft-s2n", ".tsv")
      java.nio.file.Files.writeString(f,
        "g1\tsid\tg2\n0.5\tS9\t1.5\n2.0\tS8\t3.0\n")
      val m = OmicsReader.readSamplesAsRows(spark, f.toString, idCol = "sid")
      val rows = m.data.orderBy("sample_id").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("S8", "S9"))
      assert(rows(0).getSeq[Double](1) == Seq(2.0, 3.0))
      assert(m.featureNames.collect().map(_.getString(1)).toSet ==
        Set("g1", "g2"))
    }

    it("parses headerless matrices by positional column convention (S4)") {
      val f = java.nio.file.Files.createTempFile("graft-s4", ".tsv")
      java.nio.file.Files.writeString(f, "S1\t7.5\t8.5\nS2\t9.0\t10.0\n")
      val m = OmicsReader.readSamplesAsRows(spark, f.toString,
        header = false)
      val rows = m.data.orderBy("sample_id").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("S1", "S2"))
      assert(rows(0).getSeq[Double](1) == Seq(7.5, 8.5))
    }
  }

  describe("OmicsReader.readWhitespaceMatrix (S5)") {
    it("parses np.loadtxt-style whitespace matrices with row order") {
      val f = java.nio.file.Files.createTempFile("graft-ws", ".txt")
      java.nio.file.Files.writeString(f,
        "1.0  2.5\t3\n  4 5.5   6.25\n7 8 9\n")
      val m = OmicsReader.readWhitespaceMatrix(spark, f.toString)
        .orderBy("row_idx").collect()
      assert(m.length == 3)
      assert(m(0).getSeq[Double](1) == Seq(1.0, 2.5, 3.0))
      assert(m(1).getSeq[Double](1) == Seq(4.0, 5.5, 6.25))
    }
  }

  describe("ResultTables.filterKeys (P6)") {
    it("keeps entries whose key contains the setting") {
      import spark.implicits._
      val df = Seq(("CNC_2_groups", 1.0), ("CNC_3_groups", 2.0),
        ("XAE_2_groups", 3.0)).toDF("key", "value")
      val kept = graft.pipeline.ResultTables.filterKeys(df, "2_groups")
        .collect().map(_.getString(0)).toSet
      assert(kept == Set("CNC_2_groups", "XAE_2_groups"))
    }
  }

  describe("Align.pair (J1)") {
    import spark.implicits._
    it("pairs aligned views and rejects misaligned ones") {
      val a = Seq(("s1", Seq(1.0)), ("s2", Seq(2.0)))
        .toDF("sample_id", "features")
      val b = Seq(("s1", Seq(3.0)), ("s2", Seq(4.0)))
        .toDF("sample_id", "features")
      assert(Align.pair(a, b).count() == 2)
      val c = Seq(("s1", Seq(3.0)), ("s3", Seq(4.0)))
        .toDF("sample_id", "features")
      assertThrows[Align.MisalignedViewsException](Align.pair(a, c))
    }
  }
}
