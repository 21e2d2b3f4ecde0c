package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

/** Seeded input generators. Every shape, header and class count is fixed
  * by construction and re-checked on the written file before any timing,
  * so a generator bug fails the run instead of skewing it.
  */
object Inputs {

  /** Features-as-rows simulation matrix in the reference layout: an
    * R-style header of quoted `"GroupG.Time1.RepR"` sample ids (one cell
    * fewer than the data rows), then one row per feature led by its
    * quoted id, integer counts. A fifth of the features carry a
    * per-group log-fold shift, the planted signal NB has to find.
    *
    * The feature means and the planted shifts come from [[SimTruth]],
    * the same for every seed; `seed` draws the per-sample noise. Every
    * seed is then a replicate of one simulated truth, so seeds differ in
    * noise, not in the signal the search, NB and k-means have to find.
    */
  final case class Sim(groups: Int, perGroup: Int, features: Int) {
    def samples: Int = groups * perGroup
    def sampleId(g: Int, r: Int): String = s"Group$g.Time1.Rep$r"
  }

  val SimTruth = 20231L

  def writeSim(path: File, shape: Sim, seed: Long): Unit = {
    val truth = new SplittableRandom(SimTruth)
    val ids = for (g <- 1 to shape.groups; r <- 1 to shape.perGroup)
      yield shape.sampleId(g, r)
    val base = Array.fill(shape.features)(1.5 + 3.0 * truth.nextDouble())
    val shift = Array.tabulate(shape.features, shape.groups) { (_, _) =>
      if (truth.nextDouble() < 0.2) 2.0 * gaussian(truth) else 0.0
    }
    val rng = new SplittableRandom(seed)
    withWriter(path) { w =>
      w.write(ids.map(q).mkString("\t"))
      w.write('\n')
      for (f <- 0 until shape.features) {
        w.write(q(f"sim-mir-$f%04d"))
        for (g <- 0 until shape.groups; _ <- 0 until shape.perGroup) {
          val mu = base(f) + shift(f)(g) + 0.6 * gaussian(rng)
          w.write('\t')
          w.write(math.round(math.exp(mu)).toString)
        }
        w.write('\n')
      }
    }
    checkLines(path, 1 + shape.features) { (i, cells) =>
      val want = if (i == 0) shape.samples else shape.samples + 1
      require(cells.length == want,
        s"$path line $i has ${cells.length} cells, expected $want")
      if (i == 0) require(cells(0) == q(shape.sampleId(1, 1)) &&
        cells.last == q(shape.sampleId(shape.groups, shape.perGroup)),
        s"$path header ids out of layout")
    }
  }

  private def q(s: String): String = "\"" + s + "\""

  private def gaussian(rng: SplittableRandom): Double = { // Box-Muller
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  private def withWriter(f: File)(body: BufferedWriter => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f), 1 << 20)
    try body(w) finally w.close()
  }

  private def checkLines(f: File, lines: Int)(check: (Int, Array[String]) => Unit): Unit = {
    val src = scala.io.Source.fromFile(f)
    try {
      var n = 0
      src.getLines().foreach { l => check(n, l.split("\t", -1)); n += 1 }
      require(n == lines, s"$f has $n lines, expected $lines")
    } finally src.close()
  }
}
