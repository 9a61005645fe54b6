package graft

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.io.WKTReader
import graft.functions.{GeomCache, Jts, StIm}

/** Differential test of the prepared DE-9IM kernel against plain JTS
  * `relate`: [[GeomCache.relatePrepared]] (the larger operand's cached
  * RelateNG, transposed back when that operand is the right-hand one)
  * and its dispatch through [[StIm.matrix]], in both argument orders,
  * over the mixed random corpus, huge × local stars, integer boxes and
  * triangles touching at edges and corners, and holed polygons. */
class PreparedRelateSpec extends AnyFunSuite {
  private val rd = new WKTReader()
  private val gf = new GeometryFactory()

  /** Star polygon with `n` vertices: a coastline-sized operand. */
  private def bigStar(rnd: scala.util.Random, cx: Double, cy: Double,
                      r: Double, n: Int): Geometry = {
    val pts = (0 until n).map { i =>
      val ang = 2 * math.Pi * i / n
      val rr = r * (0.7 + 0.3 * rnd.nextDouble())
      new Coordinate(cx + rr * math.cos(ang), cy + rr * math.sin(ang))
    }
    gf.createPolygon((pts :+ pts.head).toArray)
  }

  /** Asserts both kernel entry points equal `relate` for (a, b) and
    * (b, a); returns how many of the two orders prepared the right-hand
    * operand (the transposed case). */
  private def check(a: Geometry, b: Geometry, what: => String): Int = {
    val wa = Jts.toWkb(a); val wb = Jts.toWkb(b)
    val ga = GeomCache.geometry(wa); val gb = GeomCache.geometry(wb)
    Seq((wa, ga, wb, gb, a, b), (wb, gb, wa, ga, b, a)).map {
      case (w1, g1, w2, g2, x, y) =>
        val expected = x.relate(y).toString
        assert(GeomCache.relatePrepared(GeomCache.Key(w1), g1, GeomCache.Key(w2), g2)
            .toString === expected,
          s"relatePrepared: $what (${x.getNumPoints} × ${y.getNumPoints} pts)")
        assert(StIm.matrix(w1, w2, 0).toString === expected,
          s"StIm.matrix: $what (${x.getNumPoints} × ${y.getNumPoints} pts)")
        if (g2.getNumPoints > g1.getNumPoints) 1 else 0
    }.sum
  }

  test("prepared kernel equals relate in both argument orders on the " +
       "mixed corpus (points, lines, holed and multi polygons, stars)") {
    val geoms = (TestGeoms.corpus(seed = 301, n = 90, world = 60) ++
      TestGeoms.corpus(seed = 302, n = 60, world = 60)).map(p => rd.read(p._2))
    var transposed = 0; var intersecting = 0
    for (i <- geoms.indices; j <- i until geoms.size) {
      val (a, b) = (geoms(i), geoms(j))
      if (a.getEnvelopeInternal.intersects(b.getEnvelopeInternal)) {
        transposed += check(a, b, s"corpus pair ($i, $j)")
        if (a.intersects(b)) intersecting += 1
      }
    }
    assert(transposed > 0 && intersecting > 100,
      s"corpus too easy: $transposed transposed, $intersecting intersecting")
  }

  test("prepared kernel equals relate on huge × local stars") {
    val rnd = new scala.util.Random(303)
    val huge = (0 until 4).map(_ => bigStar(rnd, 50 + rnd.nextDouble() * 10,
      50 + rnd.nextDouble() * 10, 30 + rnd.nextDouble() * 10, 2000 + rnd.nextInt(2000)))
    val local = (0 until 60).map(_ => rd.read(TestGeoms.starPolygon(rnd,
      10 + rnd.nextDouble() * 80, 10 + rnd.nextDouble() * 80, 1 + rnd.nextDouble() * 5)))
    var transposed = 0
    for (h <- huge; g <- local ++ huge) transposed += check(h, g, "huge × local")
    assert(transposed >= huge.size * local.size)
  }

  test("prepared kernel equals relate on integer boxes and triangles " +
       "that share edges and corners") {
    val rnd = new scala.util.Random(304)
    def box(x: Int, y: Int, w: Int, h: Int) =
      rd.read(s"POLYGON(($x $y, ${x + w} $y, ${x + w} ${y + h}, $x ${y + h}, $x $y))")
    def tri(x: Int, y: Int, w: Int, h: Int) =
      rd.read(s"POLYGON(($x $y, ${x + w} $y, $x ${y + h}, $x $y))")
    val shapes = (0 until 70).map { _ =>
      val (x, y) = (rnd.nextInt(8), rnd.nextInt(8))
      val (w, h) = (1 + rnd.nextInt(4), 1 + rnd.nextInt(4))
      if (rnd.nextBoolean()) box(x, y, w, h) else tri(x, y, w, h)
    }
    var touching = 0
    for (i <- shapes.indices; j <- i until shapes.size) {
      val (a, b) = (shapes(i), shapes(j))
      if (a.getEnvelopeInternal.intersects(b.getEnvelopeInternal)) {
        check(a, b, s"${a.toText} / ${b.toText}")
        if (a.touches(b)) touching += 1
      }
    }
    assert(touching > 20, s"only $touching touching pairs")
  }

  test("prepared kernel equals relate on donut-with-hole fixtures") {
    val rnd = new scala.util.Random(305)
    val donut = rd.read(
      "POLYGON((0 0, 60 0, 60 60, 0 60, 0 0), (20 20, 40 20, 40 40, 20 40, 20 20))")
    val fixtures = Seq(
      "POLYGON((25 25, 35 25, 35 35, 25 35, 25 25))",  // inside the hole
      "POLYGON((10 10, 50 10, 50 16, 10 16, 10 10))",  // in the ring
      "POLYGON((20 25, 30 25, 30 35, 20 35, 20 25))",  // on the hole's edge
      "POLYGON((20 20, 40 20, 40 40, 20 40, 20 20))",  // fills the hole
      "POLYGON((70 70, 80 70, 80 80, 70 80, 70 70))",  // outside
      "LINESTRING(10 30, 50 30)",                      // crosses the hole
      "POINT(30 30)", "POINT(20 30)").map(w => rd.read(w))
    val stars = (0 until 12).map(_ => rd.read(TestGeoms.starPolygon(rnd,
      rnd.nextDouble() * 70, rnd.nextDouble() * 70, 2 + rnd.nextDouble() * 8)))
    val holed = (0 until 6).map(_ => rd.read(TestGeoms.holePolygon(rnd,
      20 + rnd.nextDouble() * 20, 20 + rnd.nextDouble() * 20, 10 + rnd.nextDouble() * 10)))
    for (b <- fixtures ++ stars ++ holed) check(donut, b, b.toText.take(40))
  }

  test("more than 256 distinct large operands on one thread: evicted " +
       "entries are re-prepared and still equal relate") {
    val rnd = new scala.util.Random(306)
    val bigs = (0 until 300).map(i => bigStar(rnd, 50, 50, 20 + i * 0.05, 200))
    val small = rd.read("POLYGON((48 48, 75 50, 50 52, 48 48))")
    // two passes in both argument orders: a sequential scan of 300 keys
    // through the 256-entry LRU evicts every entry before its reuse, so
    // the second pass re-prepares each operand
    for (_ <- 0 until 2; b <- bigs) check(b, small, "eviction pass")
  }
}
