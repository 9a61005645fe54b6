package linkbench

import org.locationtech.jts.geom.GeometryFactory
import org.locationtech.jts.io.WKTReader
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own pure logic: seeded corpora, quartiles and PGR.
  * Run with `sbt test` inside `linkbench/`. */
class BenchLogicSpec extends AnyFunSuite {

  private def same(a: Corpus, b: Corpus): Boolean =
    Seq(a.source -> b.source, a.target -> b.target).forall { case (x, y) =>
      x.ids.sameElements(y.ids) && x.wkt.sameElements(y.wkt) && x.valid.sameElements(y.valid)
    }

  test("every workload generates the same corpus from the same seed") {
    for (w <- Workloads.all) {
      assert(same(w.generate(42L), w.generate(42L)), w.name)
      assert(!same(w.generate(42L), w.generate(43L)), w.name)
    }
  }

  test("valid rows parse to valid JTS geometries; malformed rows are rare and not") {
    val reader = new WKTReader(new GeometryFactory())
    val c = Workloads.giaGiant.generate(7L)
    for (side <- Seq(c.source, c.target); i <- 0 until side.size) {
      val ok = try {
        val g = reader.read(side.wkt(i)); !g.isEmpty && g.isValid
      } catch { case _: Exception => false }
      assert(ok == side.valid(i), s"${side.ids(i)}: ${side.wkt(i).take(60)}")
    }
    val bad = c.source.size - c.source.validCount
    assert(bad > 0 && bad < c.source.size / 100)
  }

  test("quartiles follow Python's statistics.quantiles(n=4)") {
    // statistics.quantiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], n=4)
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    // statistics.quantiles([3.0, 1.0, 2.0], n=4)
    assert(Stats.quartiles(Seq(3.0, 1.0, 2.0)) == ((1.0, 2.0, 3.0)))
    assert(Stats.quartiles(Seq(4.0)) == ((4.0, 4.0, 4.0)))
    assert(Stats.median(Seq(5.0, 1.0)) == 3.0)
  }

  test("PGR is 1 for an ideal ordering and normalized against it otherwise") {
    // 10 qualifying pairs among 20 verified, found first: ideal
    val ideal = (1 to 10).map(i => (2L * i, math.min(2L * i, 10L)))
    assert(Stats.pgr(ideal, 10) == 1.0)
    // the same pairs found last: half the checkpoints see none
    val late = (1 to 10).map(i => (2L * i, math.max(0L, 2L * i - 10)))
    assert(Stats.pgr(late, 10) == late.map(_._2).sum.toDouble / ideal.map(_._2).sum)
    assert(Stats.pgr(late, 10) < 0.5)
    assert(Stats.pgr(Seq((5L, 0L)), 0) == 0.0)
  }
}
