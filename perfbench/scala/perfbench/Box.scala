package perfbench

import java.io.File

/** Box instruments, recorded beside every run as context for its
  * numbers (never as metrics): ALU calibration on one thread and on every
  * core, and a read-bandwidth sweep over an array at least four times the
  * last-level cache, so it measures memory rather than cache. Runs in its
  * own JVM so the sweep array never shows in the workload's peak RSS.
  * Prints one JSON object.
  */
object Box {
  private val AluIters = 60000000

  private def alu(): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < AluIters) { h = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL + i; i += 1 }
    h
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def calibMt(threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    seconds {
      val ts = (1 to threads).map { _ =>
        val t = new Thread(() => { sink.getAndAdd(alu()); () }); t.start(); t
      }
      ts.foreach(_.join())
    }
  }

  /** Bytes of the largest cache level sysfs reports for cpu0 (0 if none). */
  def llcBytes(): Long = {
    val dir = new File("/sys/devices/system/cpu/cpu0/cache")
    val levels = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("index")).flatMap { d =>
        def read(n: String) = {
          val s = scala.io.Source.fromFile(new File(d, n))
          try s.mkString.trim finally s.close()
        }
        try {
          val size = read("size")
          val mult = if (size.endsWith("K")) 1024L else if (size.endsWith("M")) 1L << 20 else 1L
          Some((read("level").toInt, size.takeWhile(_.isDigit).toLong * mult))
        } catch { case _: Exception => None }
      }
    if (levels.isEmpty) 0L else levels.maxBy(_._1)._2
  }

  def main(args: Array[String]): Unit = {
    val threads = Runtime.getRuntime.availableProcessors()
    val llc = llcBytes()
    val arrayBytes = math.max(4 * llc, 256L << 20)
    val a = new Array[Long]((arrayBytes / 8).toInt)
    java.util.Arrays.fill(a, 1L)
    var sink = 0L
    def sweep(): Double = seconds {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i); i += 1 }
      sink += s
    }
    alu(); calibMt(threads); sweep() // JIT warm-up
    val calib = seconds(sink += alu())
    val calibMt1 = calibMt(threads)
    val bw = (1 to 3).map(_ => sweep()).min
    if (sink == 42L) System.err.println("sentinel")
    println(Main.json(Map(
      "calib_s" -> calib, "calib_mt_s" -> calibMt1, "calib_mt_threads" -> threads,
      "calib_mem_gbps" -> arrayBytes / bw / 1e9,
      "mem_array_mb" -> arrayBytes / 1e6, "llc_mb" -> llc / 1e6)))
  }
}
