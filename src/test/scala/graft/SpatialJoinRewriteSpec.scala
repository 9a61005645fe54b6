package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.util.AffineTransformation
import org.locationtech.jts.io.WKTReader
import graft.plans.GraftExtensions
import graft.operators.SpatialJoin
import graft.functions.GeomFunctions._
import graft.functions.TileCover

/** The declarative surface: a plain inner join whose condition is a
  * spatial predicate gets rewritten by the injected optimizer rule
  * into the tile filter-refine plan (no cartesian product), with
  * results identical to brute force.
  */
class SpatialJoinRewriteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // extensions apply only at session construction: replace any
    // session other suites may have created
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  private def entitiesDf(rows: Seq[(String, String)], prefix: String): DataFrame = {
    import spark.implicits._
    val e = SpatialJoin.entities(rows.toDF("id", "wkt"), col("id"), col("wkt"))
    e.columns.foldLeft(e)((d, c) => d.withColumnRenamed(c, prefix + c))
  }

  private def unprefixed(df: DataFrame, prefix: String): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, c.stripPrefix(prefix)))

  private def pairs(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** Brute-force JTS: every pair whose geometries intersect. */
  private def bruteForce(src: Seq[(String, String)],
                         tgt: Seq[(String, String)]): Set[(String, String)] = {
    val rd = new WKTReader()
    val tt = tgt.map { case (id, w) => (id, rd.read(w)) }
    src.flatMap { case (sid, sw) =>
      val sg = rd.read(sw)
      tt.collect { case (tid, tg) if sg.intersects(tg) => (sid, tid) }
    }.toSet
  }

  private def moved(rows: Seq[(String, String)], dx: Double,
                    dy: Double): Seq[(String, String)] = {
    val shift = AffineTransformation.translationInstance(dx, dy)
    rows.map { case (id, w) => (id, shift.transform(new WKTReader().read(w)).toText) }
  }

  /** The rewritten st_predicate join, SpatialJoin.relate and brute-force
    * JTS all give the same intersecting pairs, with no cartesian
    * product in the plan. */
  private def assertRewriteExact(srcRows: Seq[(String, String)],
                                 tgtRows: Seq[(String, String)]): Unit = {
    val src = entitiesDf(srcRows, "s_")
    val tgt = entitiesDf(tgtRows, "t_")
    val joined = src.join(tgt, st_predicate(col("s_geom"), col("t_geom"), "intersects"))
      .select("s_id", "t_id")
    val phys = joined.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct"),
      s"expected tile rewrite, got cartesian:\n$phys")
    val expected = bruteForce(srcRows, tgtRows)
    assert(expected.nonEmpty)
    assert(pairs(joined) === expected)
    assert(pairs(SpatialJoin.relate(unprefixed(src, "s_"), unprefixed(tgt, "t_"),
      "intersects")) === expected)
  }

  test("st_* functions are callable from SQL with the extension installed") {
    spark.sparkContext.setLogLevel("WARN")
    val row = spark.sql(
      """SELECT st_area(st_geomfromwkt('POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))')) AS a,
                st_numpoints(st_geomfromwkt('LINESTRING(0 0, 1 1, 2 2)')) AS n,
                st_predicate(st_geomfromwkt('POINT(1 1)'),
                             st_geomfromwkt('POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))'),
                             'within') AS w,
                st_relate(st_geomfromwkt('POINT(1 1)'),
                          st_geomfromwkt('POINT(1 1)')).equals AS eq
      """).head()
    assert(row.getDouble(0) === 16.0)
    assert(row.getInt(1) === 3)
    assert(row.getBoolean(2))
    assert(row.getBoolean(3))
  }

  /** The message of a SQL call that must fail on its argument count. */
  private def arityError(sql: String): String =
    intercept[Exception](spark.sql(sql).collect()).getMessage

  test("a SQL st_* function rejects an extra argument, naming itself and " +
       "its arity") {
    spark.sparkContext.setLogLevel("WARN")
    val msg = arityError(
      "SELECT st_area(st_geomfromwkt('POINT(1 1)'), 'x')")
    assert(msg.contains("st_area takes 1 argument(s), got 2"), msg)
  }

  test("a SQL st_* function rejects a missing argument, naming itself and " +
       "its arity") {
    spark.sparkContext.setLogLevel("WARN")
    val msg = arityError(
      "SELECT st_predicate(st_geomfromwkt('POINT(1 1)'), st_geomfromwkt('POINT(1 1)'))")
    assert(msg.contains("st_predicate takes 3 argument(s), got 2"), msg)
  }

  test("a SQL st_* function rejects a call without arguments, naming " +
       "itself and its arity") {
    spark.sparkContext.setLogLevel("WARN")
    val msg = arityError("SELECT st_geomfromwkt()")
    assert(msg.contains("st_geomfromwkt takes 1 argument(s), got 0"), msg)
  }

  test("st_predicate join is rewritten to the tile plan and matches " +
       "brute force") {
    spark.sparkContext.setLogLevel("WARN")
    val srcRows = TestGeoms.corpus(seed = 71, n = 60, world = 40)
    val tgtRows = TestGeoms.corpus(seed = 72, n = 50, world = 40)
    assertRewriteExact(srcRows, tgtRows)

    // conjunction form: extra non-spatial predicate must also rewrite
    val src = entitiesDf(srcRows, "s_")
    val tgt = entitiesDf(tgtRows, "t_")
    val mixed = src.join(tgt,
      st_predicate(col("s_geom"), col("t_geom"), "intersects") &&
      col("s_id") =!= col("t_id"))
    val mixedPhys = mixed.queryExecution.executedPlan.toString
    assert(!mixedPhys.contains("CartesianProduct"),
      s"And(spatial, other) not rewritten:\n$mixedPhys")
    assert(pairs(mixed.select("s_id", "t_id")) ===
      bruteForce(srcRows, tgtRows).filter { case (a, b) => a != b })
  }

  test("a join hint on the st_predicate join carries to the tile join") {
    spark.sparkContext.setLogLevel("WARN")
    val src = entitiesDf(TestGeoms.corpus(seed = 75, n = 40, world = 40), "s_")
    val tgt = entitiesDf(TestGeoms.corpus(seed = 76, n = 30, world = 40), "t_")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def plan(t: DataFrame) = src.join(t,
        st_predicate(col("s_geom"), col("t_geom"), "intersects"))
        .queryExecution.sparkPlan.toString
      assert(!plan(tgt).contains("BroadcastHashJoin"))
      assert(plan(broadcast(tgt)).contains("BroadcastHashJoin"),
        plan(broadcast(tgt)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("rewrite derives θ from the source data when no conf is set") {
    spark.sparkContext.setLogLevel("WARN")
    val src = entitiesDf(TestGeoms.corpus(seed = 81, n = 50, world = 40), "s_")
    val tgt = entitiesDf(TestGeoms.corpus(seed = 82, n = 40, world = 40), "t_")
    val joined = src.join(tgt,
      st_predicate(col("s_geom"), col("t_geom"), "intersects"))
    val theta = SpatialJoin.computeTheta(unprefixed(src, "s_"))
    val covers = joined.queryExecution.optimizedPlan.flatMap(
      _.expressions.flatMap(_.collect { case t: TileCover => t }))
    assert(covers.size >= 2, s"expected a tile cover per side, got $covers")
    assert(covers.map(_.children.drop(4).map(_.eval())).toSet ===
      Set(Seq(theta.x, theta.y)), s"tile covers $covers do not use $theta")
    assert(theta.x != 1.0 && theta.y != 1.0)
    assert(pairs(joined.select("s_id", "t_id")) === pairs(SpatialJoin.relate(
      unprefixed(src, "s_"), unprefixed(tgt, "t_"), "intersects")))
  }

  test("rewritten join equals relate and brute-force JTS far from unit " +
       "scale and at negative coordinates") {
    spark.sparkContext.setLogLevel("WARN")
    // coordinates ~1e5, extents ~1e3: θ = (1, 1) would cover every
    // geometry with ~1e6 tiles
    assertRewriteExact(
      moved(TestGeoms.corpus(seed = 91, n = 70, world = 10000), 1e5, 2e5),
      moved(TestGeoms.corpus(seed = 92, n = 60, world = 10000), 1e5, 2e5))
    // every coordinate negative: tile ids and reference points floor
    // below zero
    assertRewriteExact(
      moved(TestGeoms.corpus(seed = 93, n = 70, world = 80), -120, -90),
      moved(TestGeoms.corpus(seed = 94, n = 60, world = 80), -120, -90))
  }
}
