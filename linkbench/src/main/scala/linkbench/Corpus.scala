package linkbench

import java.util.SplittableRandom

/** One side of a generated corpus: ids and WKT text. Rows with
  * `valid(i) == false` carry WKT that the engine's reader must drop
  * (unparseable, empty or self-intersecting), so the read-and-parse
  * layer filters real rows. Coordinates are integers, so the text
  * round-trips exactly and the brute-force check sees the same doubles
  * as the engine. */
final case class Side(ids: Array[String], wkt: Array[String], valid: Array[Boolean]) {
  def size: Int = ids.length
  def validCount: Int = valid.count(identity)
}

final case class Corpus(source: Side, target: Side)

/** Seeded generators for the spatial workloads. The same seed always
  * gives the same corpus; nothing here touches Spark. */
object Corpus {

  /** WKT the reader drops: too few ring points, empty, a bow-tie
    * (invalid), and text that is not WKT at all. */
  val Malformed: Array[String] = Array(
    "POLYGON((0 0, 1 1, 0 0))",
    "POLYGON EMPTY",
    "POLYGON((0 0, 2 2, 2 0, 0 2, 0 0))",
    "NOT A GEOMETRY")

  /** One row in this many is replaced by a malformed one. */
  val MalformedEvery: Int = 500

  def box(x: Long, y: Long, w: Long, h: Long): String =
    s"POLYGON(($x $y, ${x + w} $y, ${x + w} ${y + h}, $x ${y + h}, $x $y))"

  /** A triangle with integer vertices inside the `size` square at
    * (x, y); redrawn until it has non-zero area. */
  def triangle(r: SplittableRandom, x: Long, y: Long, size: Long): String = {
    var ax, ay, bx, by = 0L
    while (ax * by - ay * bx == 0) {
      ax = r.nextLong(size + 1); ay = r.nextLong(size + 1)
      bx = r.nextLong(size + 1); by = r.nextLong(size + 1)
    }
    s"POLYGON(($x $y, ${x + ax} ${y + ay}, ${x + bx} ${y + by}, $x $y))"
  }

  /** Radius of a "coastline" at angle `a`: a circle with a gentle
    * radial wiggle whose phase tells coastlines apart. */
  def coastRadius(radius: Double, phase: Double, a: Double): Double =
    radius * (1.0 + 0.08 * math.sin(a * 23 + phase) + 0.04 * math.cos(a * 57 + phase))

  /** A many-vertex coastline polygon: star-shaped about its centre, so
    * it is a valid simple polygon. */
  def coastline(cx: Long, cy: Long, radius: Double, phase: Double, points: Int): String = {
    val sb = new StringBuilder("POLYGON((")
    var first = ""
    for (i <- 0 until points) {
      val a = 2 * math.Pi * i / points
      val rr = coastRadius(radius, phase, a)
      val p = s"${cx + math.round(rr * math.cos(a))} ${cy + math.round(rr * math.sin(a))}"
      if (i == 0) first = p else sb.append(", ")
      sb.append(p)
    }
    sb.append(", ").append(first).append("))").toString
  }

  /** `n` rows named `prefix<i>`, drawn by `shape`, with one row in
    * [[MalformedEvery]] (chosen by the same generator) malformed. */
  def side(r: SplittableRandom, prefix: String, n: Int)
          (shape: SplittableRandom => String): Side = {
    val ids = new Array[String](n)
    val wkt = new Array[String](n)
    val valid = new Array[Boolean](n)
    for (i <- 0 until n) {
      ids(i) = prefix + i
      val g = shape(r)
      if (r.nextInt(MalformedEvery) == 0) {
        wkt(i) = Malformed(r.nextInt(Malformed.length)); valid(i) = false
      } else { wkt(i) = g; valid(i) = true }
    }
    Side(ids, wkt, valid)
  }

  def boxes(r: SplittableRandom, prefix: String, n: Int, world: Long,
            minSide: Long, maxSide: Long): Side =
    side(r, prefix, n) { r =>
      val w = minSide + r.nextLong(maxSide - minSide + 1)
      val h = minSide + r.nextLong(maxSide - minSide + 1)
      box(r.nextLong(world - w), r.nextLong(world - h), w, h)
    }

  def concat(a: Side, b: Side): Side =
    Side(a.ids ++ b.ids, a.wkt ++ b.wkt, a.valid ++ b.valid)

  /** A generator per workload; the workload name is mixed into the
    * seed so two workloads never share a stream. */
  def random(workload: String, seed: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ workload.hashCode.toLong)
}
