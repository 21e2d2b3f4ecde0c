package graft

import org.apache.spark.sql.SparkSession

/** Local smoke of the driver's t1 check: run SparkEntry.entry and print
  * the row count + first rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    require(rows.nonEmpty, "entry returned 0 rows")

    // Simulation pipeline drive (SURVEY §3.1 + §3.3, reduced): prepare →
    // raw-concat NB 5-fold CV (§7.3) → the comparison table for CNC_AE
    // and JISAE-O3. Needs a simulation-layout file.
    val sim = sys.env.get("SPARK_GRAFT_SIM_FILE")
    sim match {
      case None =>
        println("[smoke] simulation and t-SNE drives skipped: " +
          "SPARK_GRAFT_SIM_FILE is not set")
      case Some(file) =>
        import graft.pipeline.SimulationRun
        val prep = SimulationRun.prepare(spark, file)
        val perLabel = prep.paired.groupBy("label").count()
          .orderBy("label").collect()
        perLabel.foreach(r => println(s"[smoke] etl $r"))
        require(perLabel.map(_.getLong(1)).sum == 480,
          "expected 480 train rows")

        val cv = graft.ml.GaussianNB.crossValidate(
          SimulationRun.rawFeatures(prep).toMap.apply("raw_concat"),
          k = 5, seed = 2023).collect()
        cv.foreach(r => println(s"[smoke] nb_cv fold=${r.getInt(0)} acc=${r.getDouble(1)}"))
        require(cv.length == 5 && cv.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))

        val table = SimulationRun.compare(prep, Seq(
          graft.nn.ArchZoo.cnc(prep.splitAt, prep.d2),
          graft.nn.ArchZoo.jisaeO3(prep.splitAt, prep.d2, 0.1))).collect()
        table.foreach(r => println(s"[smoke] compare $r"))
        prep.paired.unpersist()
        require(table.drop(3).forall(r => java.lang.Double.isFinite(r.getDouble(1))),
          "non-finite recon loss")
    }

    // TCGA-shaped pipeline (FIXTURES §1.2 synthetic fixture, S2/S3
    // readers, positional labels, fixed label codes, per-split scaling).
    val tdir = java.nio.file.Files.createTempDirectory("graft-smoke-tcga")
    val rng = new java.util.Random(2023)
    val classes = Seq("breast", "lung", "melanoma", "liver", "sarcoma", "kidney")
    val samples = (0 until 60).map(i => (f"TCGA-$i%02d", classes(i / 10), i / 10))
    def writeMatrix(name: String, width: Int): Unit = {
      val header = ("" +: (0 until width).map(j => s"g$j")).mkString("\t")
      val rows = samples.map { case (sid, _, cIdx) =>
        (sid +: (0 until width).map { j =>
          f"${(if (j % 6 == cIdx) 5.0 else 1.0) + rng.nextGaussian() * 0.3}%.4f"
        }).mkString("\t")
      }
      java.nio.file.Files.writeString(tdir.resolve(name),
        (header +: rows).mkString("\n"))
    }
    writeMatrix("exp.tsv", 24)
    writeMatrix("mirna.tsv", 12)
    java.nio.file.Files.writeString(tdir.resolve("labels.tsv"),
      ("0" +: samples.map { case (_, c, _) => s"Primary Tumor*$c" }).mkString("\n"))
    val tcga = graft.pipeline.TcgaEval.run(spark,
      tdir.resolve("exp.tsv").toString, tdir.resolve("mirna.tsv").toString,
      tdir.resolve("labels.tsv").toString,
      (d1, d2) => graft.nn.ArchZoo.cnc(d1, d2), epochs = 2, batchSize = 32)
    println(s"[smoke] tcga train/test = ${tcga.trainCount}/${tcga.testCount}")
    tcga.reconTable.collect().foreach(r => println(s"[smoke] tcga recon $r"))
    tcga.nbTable.collect().foreach(r => println(s"[smoke] tcga nb $r"))
    require(tcga.trainCount == 48 && tcga.testCount == 12)

    // Optional t-SNE drive (M12): 2-D projection of the scaled matrix —
    // the tsn_visulization.py analog. Driver-local O(n²); env-gated to
    // keep the default smoke fast.
    for (file <- sim if sys.env.get("SPARK_GRAFT_SMOKE_TSNE").contains("1")) {
      import graft.etl._
      import org.apache.spark.sql.functions._
      val m = OmicsReader.readTransposed(spark, file)
      val labeled = LabelCodec.withDerivedLabel(m.data,
        LabelCodec.simulationLabelMap)
      val scaled = Scalers.fitTransform(labeled)
      val proj = graft.ml.Tsne.embed2d(scaled,
        cfg = graft.ml.Tsne.Config(perplexity = 20, iters = 500))
        .join(labeled.select("sample_id", "label"), "sample_id")
      val sep = proj.groupBy("label")
        .agg(round(avg("tsne_1"), 2).as("c1"), round(avg("tsne_2"), 2).as("c2"),
          round(stddev_pop("tsne_1"), 2).as("s1"))
        .collect()
      sep.foreach(r => println(s"[smoke] tsne $r"))
      require(sep.length >= 2)
    }
    spark.stop()
  }
}
