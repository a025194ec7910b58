package perfbench

import java.awt.geom.{Line2D, Path2D}

/** One `/fetchResult` request: variables (archive indices), an inclusive day
  * range, and a closed polygon ring in grid-index space. Polygon vertices sit
  * off the grid lines, and the generator rejects any ring with a grid point
  * near an edge, so every implementation of point-in-polygon agrees on which
  * cells are inside.
  */
final case class FetchOp(id: String, vars: Seq[Int], t0: Int, t1: Int,
    ring: Seq[(Double, Double)]) {

  /** The ring as (lon, lat) degrees, the order the reference's GeoJSON uses. */
  def lonLat: Seq[(Double, Double)] =
    ring.map { case (gx, gy) => (Archive.Lon0 + gx * Archive.Step, Archive.Lat0 + gy * Archive.Step) }

  /** The request body in the shape `main.py:21-50` parses. */
  def body(a: Archive): String = {
    val coords = lonLat.map { case (lon, lat) => s"[$lon, $lat]" }.mkString(", ")
    s"""{"selectDate": "${a.day(t0)},${a.day(t1)}", """ +
      s""""variables": "${vars.map(Archive.Variables).mkString(",")}", """ +
      s""""geoJson": {"type": "Polygon", "coordinates": [[$coords]]}}"""
  }

  private lazy val path: Path2D.Double = {
    val p = new Path2D.Double(Path2D.WIND_EVEN_ODD)
    p.moveTo(ring.head._1, ring.head._2)
    ring.tail.foreach { case (x, y) => p.lineTo(x, y) }
    p.closePath()
    p
  }

  /** Grid cells inside the polygon, by an even-odd fill independent of the engine's. */
  def inside(y: Int, x: Int): Boolean = path.contains(x.toDouble, y.toDouble)

  /** Nearest distance, in grid steps, from any grid point of the ring's
    * envelope to any edge.
    */
  def edgeMargin: Double = {
    val edges = ring.zip(ring.tail)
    (for {
      y <- math.floor(ring.map(_._2).min).toInt to math.ceil(ring.map(_._2).max).toInt
      x <- math.floor(ring.map(_._1).min).toInt to math.ceil(ring.map(_._1).max).toInt
      ((x1, y1), (x2, y2)) <- edges
    } yield Line2D.ptSegDist(x1, y1, x2, y2, x, y)).min
  }

  /** Inside cells as (y, x), row-major. */
  lazy val cells: Seq[(Int, Int)] =
    for {
      y <- math.ceil(ring.map(_._2).min).toInt to math.floor(ring.map(_._2).max).toInt
      x <- math.ceil(ring.map(_._1).min).toInt to math.floor(ring.map(_._1).max).toInt
      if inside(y, x)
    } yield (y, x)
}

/** Seeded request mixes. The same (archive, seed) gives the same list. */
object Requests {
  /** Smallest distance, in grid steps, a grid point may sit from an edge. */
  val MinMargin = 0.05

  /** How many days an op spans. */
  sealed trait Days
  /** `min` to `max` days; half the polygons are right triangles. */
  final case class DayRange(min: Int, max: Int) extends Days
  /** `n / variables` days, and every polygon a rectangle, so every op reads
    * the same number of (variable, day) slices and about the same number of
    * cells: ops cost alike.
    */
  final case class VarDays(n: Int) extends Days

  /** Polygon side in cells, variable count, and days. */
  final case class Mix(minCells: Int, maxCells: Int, minVars: Int, maxVars: Int, days: Days)

  /** A few cells to ~10×10, one variable, 1–3 days. */
  val Interactive = Mix(1, 10, 1, 1, DayRange(1, 3))

  /** The variable count, the span and the shape cycle with the op index
    * (stratified), so every run of any seed holds the same mix of them and
    * only positions, sizes and which variables vary: a run's cost does not
    * depend on how many long or many-variable ops its seed happened to draw.
    */
  def generate(a: Archive, mix: Mix, seed: Long, n: Int, tag: String): Vector[FetchOp] = {
    val rng = new java.util.Random(seed * 1000003L + tag.hashCode)
    def between(lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)
    val nVars = mix.maxVars - mix.minVars + 1
    val nDays = mix.days match {
      case DayRange(lo, hi) => hi - lo + 1
      case VarDays(_) => 1
    }
    Vector.tabulate(n) { i =>
      val vars = scala.util.Random.javaRandomToRandom(rng)
        .shuffle(Archive.Variables.indices.toList).take(mix.minVars + i % nVars).sorted
      val (span, rectangle) = mix.days match {
        case DayRange(lo, _) => (lo + (i / nVars) % nDays, (i / (nVars * nDays)) % 2 == 0)
        case VarDays(k) => (k / vars.size, true)
      }
      val t0 = rng.nextInt(a.days - span + 1)
      var op: FetchOp = null
      while (op == null) {
        val w = between(mix.minCells, math.min(mix.maxCells, a.nx))
        val h = between(mix.minCells, math.min(mix.maxCells, a.ny))
        val x0 = rng.nextInt(a.nx - w + 1); val y0 = rng.nextInt(a.ny - h + 1)
        // vertices a fraction of a step outside the outermost grid lines
        val (l, b) = (x0 - 0.5 + 0.1 * rng.nextDouble(), y0 - 0.5 + 0.1 * rng.nextDouble())
        val (r, t) = (x0 + w - 0.6 + 0.1 * rng.nextDouble(), y0 + h - 0.6 + 0.1 * rng.nextDouble())
        val ring =
          if (w < 2 || h < 2 || rectangle) Seq((l, b), (r, b), (r, t), (l, t), (l, b))
          else rng.nextInt(4) match { // a right triangle, right angle at one corner
            case 0 => Seq((l, b), (r, b), (l, t), (l, b))
            case 1 => Seq((l, b), (r, b), (r, t), (l, b))
            case 2 => Seq((r, b), (r, t), (l, t), (r, b))
            case _ => Seq((l, b), (r, t), (l, t), (l, b))
          }
        val cand = FetchOp(s"$tag-$seed-$i", vars, t0, t0 + span - 1, ring)
        if (cand.edgeMargin >= MinMargin && cand.cells.nonEmpty) op = cand
      }
      op
    }
  }
}
