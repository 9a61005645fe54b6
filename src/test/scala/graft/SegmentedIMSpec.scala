package graft

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.io.WKTReader
import org.locationtech.jts.geom.{Geometry, IntersectionMatrix}
import graft.functions.{Jts, StIm}

/** Differential tests of the heavy polygon branch of the DE-9IM
  * kernel against plain JTS relate: random star polygons of wildly
  * different sizes (the huge × local case is the one the branch exists
  * for), plus containment/touch/hole fixtures. The heavy branch is the
  * prepared RelateNG kernel (`StIm.matrix`, every polygon pair forced
  * onto it with minPoints = 0); the "segmented IM" names date from the
  * θ-grid segment forms it replaced. θ does not enter the kernel, so
  * the θ loops re-run each pair against the warm prepared cache.
  */
class SegmentedIMSpec extends AnyFunSuite {
  private val rd = new WKTReader()
  private val rnd = new scala.util.Random(97)

  /** The heavy-branch kernel on (a, b), every polygon pair forced onto
    * the prepared branch. */
  private def kernel(a: Geometry, b: Geometry): IntersectionMatrix =
    StIm.matrix(Jts.toWkb(a), Jts.toWkb(b), 0)

  private def star(cx: Double, cy: Double, r: Double) =
    rd.read(TestGeoms.starPolygon(rnd, cx, cy, r))

  test("segmented IM equals relate on mixed-size random polygon pairs") {
    val big = (0 until 12).map(_ => star(50 + rnd.nextDouble() * 20,
      50 + rnd.nextDouble() * 20, 35 + rnd.nextDouble() * 15))
    val small = (0 until 40).map(_ => star(rnd.nextDouble() * 100,
      rnd.nextDouble() * 100, 2 + rnd.nextDouble() * 6))
    val geoms = big ++ small
    for {
      theta <- Seq(3.0, 7.0, 15.0)
      a <- geoms; b <- geoms
    } {
      val expected = a.relate(b).toString
      val got = kernel(a, b).toString
      assert(got === expected, s"theta=$theta a=${a.getNumPoints}pts b=${b.getNumPoints}pts")
    }
  }

  test("adaptive de9im join equals the plain join on a corpus with a " +
       "huge-polygon skew") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.SpatialJoin
    def entities(rows: Seq[(String, String)]) =
      SpatialJoin.entities(rows.toDF("id", "wkt"), col("id"), col("wkt"))
    val lrnd = new scala.util.Random(7)
    val src = TestGeoms.corpus(seed = 61, n = 60, world = 70) ++
      Seq(("giant", TestGeoms.starPolygon(lrnd, 35, 35, 30)))
    val tgt = TestGeoms.corpus(seed = 62, n = 50, world = 70)
    val plain = SpatialJoin.de9im(entities(src), entities(tgt))
      .select("s_id", "t_id", "de9im").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val adaptive = SpatialJoin.de9im(entities(src), entities(tgt),
      minPoints = 16)
      .select("s_id", "t_id", "de9im").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(adaptive === plain)
  }

  test("tile-adjacency screen: overlapping MBRs, far-apart bodies " +
       "(and touching bodies are never screened out)") {
    // L-shape hugging the bottom/left; small box near the top-right
    // corner of the L's MBR — MBRs overlap, bodies are ~80 units apart
    val l = rd.read("POLYGON((0 0, 100 0, 100 10, 10 10, 10 100, 0 100, 0 0))")
    val boxFar = rd.read("POLYGON((80 80, 95 80, 95 95, 80 95, 80 80))")
    // box touching the L's inner corner exactly
    val boxTouch = rd.read("POLYGON((10 10, 30 10, 30 30, 10 30, 10 10))")
    // box overlapping the L's vertical arm
    val boxOverlap = rd.read("POLYGON((5 40, 25 40, 25 60, 5 60, 5 40))")
    for {
      theta <- Seq(4.0, 9.0, 25.0)
      (a, b) <- Seq((l, boxFar), (boxFar, l), (l, boxTouch), (boxTouch, l),
                    (l, boxOverlap), (boxOverlap, l))
    } assert(kernel(a, b).toString === a.relate(b).toString,
      s"theta=$theta")
  }

  test("segmented IM equals relate when operands have holes (real " +
       "admin-region shapes, not just simple rings)") {
    val donut = rd.read(
      "POLYGON((0 0, 60 0, 60 60, 0 60, 0 0), (20 20, 40 20, 40 40, 20 40, 20 20))")
    val inHole = rd.read("POLYGON((25 25, 35 25, 35 35, 25 35, 25 25))")
    val spanning = rd.read("POLYGON((10 10, 50 10, 50 16, 10 16, 10 10))")
    val onHoleEdge = rd.read("POLYGON((20 25, 30 25, 30 35, 20 35, 20 25))")
    val outside = rd.read("POLYGON((70 70, 80 70, 80 80, 70 80, 70 70))")
    val small = (0 until 12).map(_ => star(rnd.nextDouble() * 70,
      rnd.nextDouble() * 70, 2 + rnd.nextDouble() * 8))
    val others = Seq(inHole, spanning, onHoleEdge, outside) ++ small
    for {
      theta <- Seq(5.0, 13.0, 30.0)
      b <- others
      (x, y) <- Seq((donut, b), (b, donut))
    } assert(kernel(x, y).toString === x.relate(y).toString,
      s"theta=$theta b=${b.toText.take(40)}")
  }

  test("segmented IM on canonical containment and touch cases") {
    val outer = rd.read("POLYGON((0 0, 100 0, 100 100, 0 100, 0 0))")
    val inner = rd.read("POLYGON((40 40, 60 40, 60 60, 40 60, 40 40))")
    val edge  = rd.read("POLYGON((100 40, 120 40, 120 60, 100 60, 100 40))")
    val far   = rd.read("POLYGON((300 300, 310 300, 310 310, 300 310, 300 300))")
    Seq((outer, inner), (inner, outer), (outer, edge), (edge, outer),
        (outer, far), (inner, inner)).foreach { case (a, b) =>
      assert(kernel(a, b).toString === a.relate(b).toString)
    }
  }
}
