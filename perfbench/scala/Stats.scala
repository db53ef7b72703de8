package perfbench

/** Pure helpers behind the reported figures; covered by `tests/SelfTest.scala`. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First and third quartile, as Python's `statistics.quantiles(xs, n=4)`
    * (the default "exclusive" method) computes them. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    require(xs.size >= 2, "quartiles need at least two values")
    val s = xs.sorted
    val ld = s.size
    val m = ld + 1
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (cut(1), cut(3))
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Total length covered by a set of [start, end] intervals, overlaps
    * counted once, clipped to the window [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** The innermost `graft.` frame of a Spark call-site stack (one frame per
    * line, innermost first), as (module, method): `graft.operators.Layout$.publishEpoch(Layout.scala:340)`
    * gives ("Layout", "publishEpoch"). Lambdas are named after their
    * enclosing method (`$anonfun$inParallel$1` gives "inParallel"). */
  def firstGraftFrame(callSite: String): Option[(String, String)] =
    callSite.split("\n").iterator.map(_.trim.stripPrefix("at ")).find(_.startsWith("graft."))
      .map { frame =>
        val qualified = frame.takeWhile(_ != '(')
        val cls = qualified.substring(0, qualified.lastIndexOf('.'))
        val rawMethod = qualified.substring(qualified.lastIndexOf('.') + 1)
        val module = cls.split('.').last.takeWhile(_ != '$')
        val method = rawMethod.split('$').filter(p => p.nonEmpty && p != "anonfun" &&
          !p.forall(_.isDigit) && p != "adapted").headOption.getOrElse(rawMethod)
        (module, method)
      }
}
