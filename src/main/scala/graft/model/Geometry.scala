package graft.model

/** Axis-aligned rectangle math replacing the reference's shapely usage
  * (geometry.py:7-17). The reference only ever takes the convex hull of
  * >=4 corner points and boxes its bounds — i.e. the bounding rectangle of
  * the points — then intersects two such rectangles.
  */
object Geometry {

  /** (t, l) points, as produced by only_points (doc_info.py:91-99). */
  final case class Rect(minT: Double, minL: Double, maxT: Double, maxL: Double) {
    def area: Double = math.max(0.0, maxT - minT) * math.max(0.0, maxL - minL)
  }

  def boundsOf(points: Seq[(Double, Double)]): Rect = {
    require(points.length >= 4, "bbox needs >= 4 points (geometry.py:8)")
    Rect(
      points.map(_._1).min,
      points.map(_._2).min,
      points.map(_._1).max,
      points.map(_._2).max)
  }

  def intersectionArea(a: Rect, b: Rect): Double = {
    val t = math.max(a.minT, b.minT)
    val l = math.max(a.minL, b.minL)
    val tt = math.min(a.maxT, b.maxT)
    val ll = math.min(a.maxL, b.maxL)
    if (tt <= t || ll <= l) 0.0 else (tt - t) * (ll - l)
  }

  /** sim_bbox (geometry.py:13-17): shared area / max(area1, area2). */
  def simBbox(p1: Seq[(Double, Double)], p2: Seq[(Double, Double)]): Double =
    simRect(boundsOf(p1), boundsOf(p2))

  /** [[simBbox]] over the two point sets' bounds. */
  def simRect(b1: Rect, b2: Rect): Double = {
    val shared = intersectionArea(b1, b2)
    val denom = math.max(b1.area, b2.area)
    if (denom == 0.0) {
      // degenerate boxes: the reference's Python float division 0.0/0.0
      // raises ZeroDivisionError (geometry.py:17) — a crash, not nan.
      // Reference fixtures never hit this; we define 0 similarity
      // (lenient-where-reference-raises, the codebase's standard choice).
      0.0
    } else shared / denom
  }
}
