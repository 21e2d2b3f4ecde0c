package graft

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.file.Files
import java.util.SplittableRandom

/** Seeded stand-in for the reference's miRNA simulation matrix, in the
  * FIXTURES.md §1.1 layout: a TSV with features as rows, a header of
  * 600 quoted `"GroupG.Time1.RepR"` sample ids (2 groups × 300, one cell
  * fewer than the data rows), then 1046 rows of a quoted feature id and
  * integer counts.
  *
  * Counts are log-normal around a per-feature level. Every fifth feature
  * carries a planted shift for Group2, the signal NB has to find. The
  * first row is `mmu-let-7c-2-3p` and its `Group1.Time1.Rep1` cell is 71,
  * so a reader that drops or reorders cells fails the anchor check.
  *
  * Written once per JVM to a temp dir, deleted on exit. [[smallPath]]
  * is the same layout and generator at 2 × 30 samples × 24 features,
  * for specs that train every architecture.
  */
object SimFixture {
  val Groups = 2
  val PerGroup = 300
  val Features = 1046
  val FirstFeature = "mmu-let-7c-2-3p"
  val FirstValue = 71

  def sampleId(g: Int, r: Int): String = s"Group$g.Time1.Rep$r"

  lazy val path: String = writeTemp(PerGroup, Features)
  lazy val smallPath: String = writeTemp(perGroup = 30, features = 24)

  private def writeTemp(perGroup: Int, features: Int): String = {
    val dir = Files.createTempDirectory("graft-sim").toFile
    val f = new File(dir, "miRNA_seq_2_groups_sim.tsv")
    dir.deleteOnExit()
    f.deleteOnExit()
    write(f, seed = 2023L, perGroup, features)
    f.getPath
  }

  private def write(f: File, seed: Long, perGroup: Int,
      features: Int): Unit = {
    val rng = new SplittableRandom(seed)
    def gaussian(): Double = { // Box-Muller
      val u = 1.0 - rng.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
    }
    def q(s: String) = "\"" + s + "\""
    val w = new BufferedWriter(new FileWriter(f), 1 << 20)
    try {
      w.write((for (g <- 1 to Groups; r <- 1 to perGroup)
        yield q(sampleId(g, r))).mkString("\t"))
      w.write('\n')
      for (i <- 0 until features) {
        w.write(q(if (i == 0) FirstFeature else f"sim-mir-$i%04d"))
        val level = 2.0 + 2.0 * rng.nextDouble()
        val shift = if (i % 5 == 1) 1.0 else 0.0
        for (g <- 0 until Groups; r <- 0 until perGroup) {
          val v =
            if (i == 0 && g == 0 && r == 0) FirstValue.toLong
            else math.round(math.exp(level + g * shift + 0.5 * gaussian()))
          w.write('\t')
          w.write(v.toString)
        }
        w.write('\n')
      }
    } finally w.close()
  }
}
