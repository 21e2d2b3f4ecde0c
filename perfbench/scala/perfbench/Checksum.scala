package perfbench

import org.apache.spark.sql.Row
import scala.util.hashing.MurmurHash3

/** Order-insensitive content checksum of a query result:
  * `count:sum:xor` of per-row hashes. Each row hashes a canonical text
  * rendering; doubles keep 9 significant digits so a change of summation
  * order (ulp drift) does not read as a different result. */
object Checksum {
  def apply(rows: Array[Row]): String = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val h = MurmurHash3.stringHash(render(r)).toLong & 0xffffffffL
      sum += h
      xor ^= h
    }
    s"${rows.length}:$sum:$xor"
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => fp(d)
    case f: Float => fp(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def fp(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros().toString
}
