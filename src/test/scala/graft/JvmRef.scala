package graft

/** Independent JVM reference implementations shared by the spec suites
  * (the shared-formula blind-spot discipline: these re-derive engine
  * results with DIFFERENT code than either the Spark or oracle path).
  */
object JvmRef {

  /** Sign-safe half-up integer division s/n (n > 0). */
  def halfUp(s: Long, n: Long): Long =
    if (s < 0) -((2 * -s + n) / (2 * n)) else (2 * s + n) / (2 * n)

  /** Half-up rounding to 6 decimals of the double's shortest decimal. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Lower-case hex md5 of the UTF-8 bytes. */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The engine's 60-bit md5 hash, re-implemented from MessageDigest. */
  def hash60(s: String): Long = java.lang.Long.parseLong(md5Hex(s).take(15), 16)

  /** From-scratch Lloyd's matching the DeterministicKMeans spec:
    * micro-unit vectors, seeds = k smallest (hash60(id), id), argmin
    * assignment (ties → smaller cluster), half-up integer means,
    * `iters` assignment rounds with iters−1 updates. Returns (final
    * centroids, per-id cluster).
    */
  def kmeans(
      rows: Seq[(Long, Array[Long])], k: Int,
      iters: Int): (Array[Array[Long]], Map[Long, Int]) = {
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var cents = rows.sortBy { case (id, _) => (hash60(id.toString), id) }
      .take(k).map(_._2.clone).toArray
    def assign(v: Array[Long]): Int =
      cents.zipWithIndex.map { case (c, i) => (sq(v, c), i) }.min._2
    for (_ <- 1 until iters) {
      val groups = rows.groupBy { case (_, v) => assign(v) }
      val next = cents.map(_.clone)
      groups.foreach { case (c, ms) =>
        val n = ms.size.toLong
        (0 until cents(0).length).foreach { i =>
          val s = ms.map(_._2(i)).sum
          next(c)(i) = halfUp(s, n)
        }
      }
      cents = next
    }
    (cents, rows.map { case (id, v) => id -> assign(v) }.toMap)
  }

  def sqDist(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
}
