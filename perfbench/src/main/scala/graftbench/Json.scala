package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON text of Scala values (maps, sequences, numbers, strings). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  /** Percentile, `q` in [0, 1], interpolated linearly between the two
    * nearest order statistics (numpy's default), so a tail read from a
    * dozen samples does not rest on one of them alone.
    */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
