package perfbench

/** Brute-force oracles over the generator's own geometry. They share no
  * code with the engine. */
object Oracle {

  /** Twice the signed area of (a, b, p), exact (inputs are 1e-7 degree
    * values inside the generated extent, far below overflow). */
  private def cross(ax: Long, ay: Long, bx: Long, by: Long, px: Long, py: Long): Long =
    (bx - ax) * (py - ay) - (by - ay) * (px - ax)

  /** 1 inside, 0 outside, -1 exactly on an edge (ambiguous: skipped). */
  def pip(px: Long, py: Long, rings: Vector[Array[Long]]): Int = {
    var inside = false
    for (r <- rings) {
      val n = r.length / 2
      var i = 0
      while (i < n) {
        val ax = r(2 * i); val ay = r(2 * i + 1)
        val j = (i + 1) % n
        val bx = r(2 * j); val by = r(2 * j + 1)
        val c = cross(ax, ay, bx, by, px, py)
        if (c == 0 && px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
            py >= math.min(ay, by) && py <= math.max(ay, by)) return -1
        if ((ay > py) != (by > py)) {
          // the edge crosses the horizontal line through p: p is left of
          // the upward edge (c > 0) or right of the downward one
          if ((c > 0) == (by > ay)) inside = !inside
        }
        i += 1
      }
    }
    if (inside) 1 else 0
  }

  /** Nearest centre by (squared planar distance with longitude wrap,
    * relation id), over every centre. */
  def nearest(lat7: Long, lon7: Long, centres: Seq[(Long, Long, Long)]): Long =
    centres.minBy { case (rel, la, lo) =>
      val dlat = lat7 - la
      val raw = math.abs(lon7 - lo)
      val dlon = math.min(raw, 3600000000L - raw)
      (dlat * dlat + dlon * dlon, rel)
    }._1
}
