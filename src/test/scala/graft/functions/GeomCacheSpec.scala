package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}

/** The verification-cache key ([[GeomCache.Key]]): lookups resolve by
  * content, a WKB larger than 512 bytes is hashed from a bounded sample
  * only, and neither a sample collision nor hundreds of keys sharing one
  * hash make a lookup return another operand's geometry. */
class GeomCacheSpec extends AnyFunSuite {
  private val gf = new GeometryFactory()

  /** Closed 8,000-vertex coastline on a circle; its WKB is 128,029
    * bytes, the size of the benchmark's coastlines. */
  private def coast(cx: Double, cy: Double, r: Double, n: Int = 8000): Geometry = {
    val pts = (0 until n).map { i =>
      val a = 2 * math.Pi * i / n
      new Coordinate(cx + r * math.cos(a), cy + r * math.sin(a))
    }
    gf.createPolygon((pts :+ pts.head).toArray)
  }

  private def box(x: Double, y: Double, s: Double): Geometry =
    gf.createPolygon(Array(new Coordinate(x, y), new Coordinate(x + s, y),
      new Coordinate(x + s, y + s), new Coordinate(x, y + s), new Coordinate(x, y)))

  test("content-equal distinct arrays return the same cached instance") {
    for (g <- Seq(box(1.5, 2.5, 3), coast(50.25, 50.25, 20))) {
      val w1 = Jts.toWkb(g); val w2 = w1.clone()
      assert(!(w1 eq w2))
      assert(GeomCache.geometry(w1) eq GeomCache.geometry(w2), s"${w1.length} bytes")
      assert(GeomCache.prepared(w1) eq GeomCache.prepared(w2), s"${w1.length} bytes")
    }
  }

  test("two coastlines differing only where the sampled hash does not " +
       "read stay distinct and relate exactly") {
    val c = coast(5000.25, 5000.25, 1000)
    val wa = Jts.toWkb(c)
    assert(wa.length == 128029 && wa(0) == 0, "big-endian polygon WKB")
    // Vertex k's x is the big-endian double at 13 + 16k. Near x = 6000
    // an ulp is 2^-40, so flipping mantissa bit 33 (bit 1 of the double's
    // fourth byte) moves the vertex by 2^-7 along x: the polygon stays
    // valid, and the move is far from the rounding scale of the relate.
    val (k, wb) = Iterator.from(10).map { k =>
      val o = 13 + 16 * k + 3
      val w = wa.clone(); w(o) = (w(o) ^ 2).toByte; (k, w)
    }.find { case (_, w) => GeomCache.hash(w) == GeomCache.hash(wa) }.get
    assert(!java.util.Arrays.equals(wa, wb))
    val gb = Jts.fromWkb(wb)
    assert(gb.isValid && !gb.equalsExact(c))

    // A sliver triangle whose corner sits exactly on vertex k of the
    // first coastline and points outward: it touches that coastline at
    // one point, and the moved vertex puts it inside or off the second.
    val v = c.getCoordinates()(k)
    val a = 2 * math.Pi * k / 8000
    val (ux, uy) = (math.cos(a), math.sin(a))
    val tri = gf.createPolygon(Array(new Coordinate(v.x, v.y),
      new Coordinate(v.x + 50 * ux - 5 * uy, v.y + 50 * uy + 5 * ux),
      new Coordinate(v.x + 50 * ux + 5 * uy, v.y + 50 * uy - 5 * ux),
      new Coordinate(v.x, v.y)))
    val wt = Jts.toWkb(tri)
    val expectA = tri.relate(c).toString
    val expectB = tri.relate(gb).toString
    assert(expectA != expectB, s"the fixture does not tell the coastlines apart: $expectA")

    // both lookup orders, each through fresh arrays
    for (order <- Seq(Seq(wa, wb), Seq(wb, wa))) {
      val parsed = order.map(w => GeomCache.geometry(w.clone()))
      assert(!(parsed(0) eq parsed(1)))
      assert(!parsed(0).equalsExact(parsed(1)))
      for (w <- order) {
        val expected = if (w eq wa) expectA else expectB
        assert(StIm.matrix(wt, w.clone(), StIm.MinPoints).toString === expected)
        assert(StIm.matrix(w.clone(), wt, StIm.MinPoints).toString ===
          new org.locationtech.jts.geom.IntersectionMatrix(expected).transpose().toString)
      }
    }
  }

  test("hundreds of keys sharing one hash resolve to their own geometries") {
    // treeified bins order colliding keys by compareTo: HashMap does so
    // only for a class declared Comparable to itself
    assert(classOf[GeomCache.Key].getGenericInterfaces.exists {
      case p: java.lang.reflect.ParameterizedType =>
        p.getRawType == classOf[Comparable[_]] &&
          p.getActualTypeArguments.sameElements(Seq(classOf[GeomCache.Key]))
      case _ => false
    })
    val geoms = (0 until 300).map(i => box(i * 0.5, i * 0.25, 1 + i % 7)) ++
      (0 until 60).map(i => coast(i * 3.0, 7.0, 1 + i * 0.01, 100 + i))
    val wkbs = geoms.map(Jts.toWkb)
    val first = wkbs.map(w => GeomCache.geometry(new GeomCache.Key(w.clone(), 42)))
    for (i <- geoms.indices) {
      assert(first(i).equalsExact(geoms(i)), s"key $i")
      assert(GeomCache.geometry(new GeomCache.Key(wkbs(i).clone(), 42)) eq first(i), s"key $i")
    }

    // the prepared-RelateNG cache behind the same colliding keys
    val probe = gf.createPolygon(Array(new Coordinate(0.37, 0.11),
      new Coordinate(200.3, 7.29), new Coordinate(0.13, 8.71), new Coordinate(0.37, 0.11)))
    val pk = new GeomCache.Key(Jts.toWkb(probe), 42)
    for (_ <- 0 until 2; i <- geoms.indices.takeRight(60)) {
      val k = new GeomCache.Key(wkbs(i).clone(), 42)
      assert(GeomCache.relatePrepared(k, GeomCache.geometry(k), pk, probe).toString ===
        geoms(i).relate(probe).toString, s"key $i")
    }
  }
}
