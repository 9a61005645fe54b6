package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.util.AffineTransformation
import org.locationtech.jts.io.WKTReader
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import graft.plans.{GraftExtensions, SpatialJoinRewrite}
import graft.operators.{SpatialJoin, TileProbe, TileProbeExec}
import graft.functions.GeomFunctions._
import graft.model.Relation

/** The declarative surface: a plain inner join whose condition is a
  * spatial predicate gets rewritten by the injected optimizer rule
  * into the tile index with the predicate as its filter (no cartesian
  * product), with results identical to brute force.
  */
class SpatialJoinRewriteSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
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

  /** Brute-force JTS: every pair whose geometries satisfy `relation`. */
  private def bruteForce(src: Seq[(String, String)], tgt: Seq[(String, String)],
                         relation: String = "intersects"): Set[(String, String)] = {
    val rd = new WKTReader()
    val rel = Relation.of(relation)
    val tt = tgt.map { case (id, w) => (id, rd.read(w)) }
    src.flatMap { case (sid, sw) =>
      val sg = rd.read(sw)
      tt.collect { case (tid, tg) if rel.eval(sg, tg) => (sid, tid) }
    }.toSet
  }

  /** Just `<prefix>id` and `<prefix>geom`: no envelope columns ever. */
  private def bareDf(rows: Seq[(String, String)], prefix: String): DataFrame = {
    import spark.implicits._
    rows.toDF(prefix + "id", "wkt")
      .select(col(prefix + "id"), st_geomfromwkt(col("wkt")).as(prefix + "geom"))
  }

  /** (s_id, t_id) of every row of `df`, by name. */
  private def idPairs(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getAs[String]("s_id"), r.getAs[String]("t_id"))).toSet

  /** Every node of `df`'s executed plan. */
  private def executedNodes(df: DataFrame) =
    collect(df.queryExecution.executedPlan) { case p => p }

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
    // the projection prunes the envelope columns before the rule runs:
    // it computes them from the geometries and still probes the index
    val projected = executedNodes(joined)
    assert(projected.exists(_.isInstanceOf[TileProbeExec]), joined.queryExecution.executedPlan)
    assert(!projected.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      joined.queryExecution.executedPlan)
    // the join with every column: under the bound the index serves it
    // and nothing explodes
    val whole = src.join(tgt, st_predicate(col("s_geom"), col("t_geom"), "intersects"))
    assert(idPairs(whole) === expected)
    val executed = executedNodes(whole)
    assert(executed.exists(_.isInstanceOf[TileProbeExec]), whole.queryExecution.executedPlan)
    assert(!executed.exists(_.isInstanceOf[GenerateExec]), whole.queryExecution.executedPlan)
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

  test("st_predicate join over children that never had envelope columns " +
       "is rewritten to the tile index and matches brute force") {
    spark.sparkContext.setLogLevel("WARN")
    val srcRows = TestGeoms.corpus(seed = 77, n = 60, world = 40)
    val tgtRows = TestGeoms.corpus(seed = 78, n = 50, world = 40)
    val whole = bareDf(srcRows, "s_").join(bareDf(tgtRows, "t_"),
      st_predicate(col("s_geom"), col("t_geom"), "intersects"))
    val expected = bruteForce(srcRows, tgtRows)
    assert(expected.nonEmpty)
    // the envelopes the rule computes stay out of the join's columns
    assert(whole.columns.toSeq === Seq("s_id", "s_geom", "t_id", "t_geom"))
    for (joined <- Seq(whole, whole.select("s_id", "t_id"))) {
      assert(idPairs(joined) === expected)
      val executed = executedNodes(joined)
      assert(executed.exists(_.isInstanceOf[TileProbeExec]), joined.queryExecution.executedPlan)
      assert(!executed.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
        joined.queryExecution.executedPlan)
    }
  }

  test("a disjoint st_predicate join is not rewritten, projected or with " +
       "every column, and matches brute force") {
    spark.sparkContext.setLogLevel("WARN")
    val srcRows = TestGeoms.corpus(seed = 79, n = 40, world = 40)
    val tgtRows = TestGeoms.corpus(seed = 80, n = 30, world = 40)
    val expected = bruteForce(srcRows, tgtRows, "disjoint")
    // the index emits only pairs whose MBRs intersect, so a rewrite
    // would lose the disjoint pairs whose MBRs lie apart
    val rd = new WKTReader()
    val mbrApart = expected.count { case (s, t) =>
      !rd.read(srcRows.toMap.apply(s)).getEnvelopeInternal
        .intersects(rd.read(tgtRows.toMap.apply(t)).getEnvelopeInternal)
    }
    assert(mbrApart > 0)
    for ((src, tgt) <- Seq(entitiesDf(srcRows, "s_") -> entitiesDf(tgtRows, "t_"),
                           bareDf(srcRows, "s_") -> bareDf(tgtRows, "t_"))) {
      val whole = src.join(tgt, st_predicate(col("s_geom"), col("t_geom"), "disjoint"))
      for (joined <- Seq(whole, whole.select("s_id", "t_id"))) {
        assert(idPairs(joined) === expected)
        assert(!executedNodes(joined).exists(_.isInstanceOf[TileProbeExec]),
          joined.queryExecution.executedPlan)
      }
    }
  }

  /** The rewritten join's tile-index node. */
  private def probeOf(joined: DataFrame): TileProbe =
    joined.queryExecution.optimizedPlan.collectFirst { case p: TileProbe => p }
      .getOrElse(fail(s"no TileProbe in\n${joined.queryExecution.optimizedPlan}"))

  test("a join hint on the st_predicate join carries to the tile join") {
    spark.sparkContext.setLogLevel("WARN")
    val src = entitiesDf(TestGeoms.corpus(seed = 75, n = 40, world = 40), "s_")
    val tgt = entitiesDf(TestGeoms.corpus(seed = 76, n = 30, world = 40), "t_")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the tile join of the index's fallback, the plan a target past
      // the index bound runs
      def plan(t: DataFrame) = {
        val probe = probeOf(src.join(t,
          st_predicate(col("s_geom"), col("t_geom"), "intersects")))
        probe.fallback(probe).queryExecution.sparkPlan.toString
      }
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
    assert(probeOf(joined).theta === theta)
    assert(theta.x != 1.0 && theta.y != 1.0)
    assert(pairs(joined.select("s_id", "t_id")) === pairs(SpatialJoin.relate(
      unprefixed(src, "s_"), unprefixed(tgt, "t_"), "intersects")))
  }

  test("the tile-join fallback of a rewritten join takes its columns by " +
       "position, so same-named columns of the two sides stay apart, and " +
       "a child's own __tile column survives it") {
    spark.sparkContext.setLogLevel("WARN")
    val srcRows = TestGeoms.corpus(seed = 95, n = 60, world = 40)
    val tgtRows = TestGeoms.corpus(seed = 96, n = 50, world = 40)
    // a non-key `tag` on both sides, of different types, and a target
    // column named like the fallback's tile column
    val src = entitiesDf(srcRows, "s_").withColumn("tag", concat(lit("s:"), col("s_id")))
    val tgt = entitiesDf(tgtRows, "t_").withColumn("tag", length(col("t_id")))
      .withColumn("__tile", lit(7L))
    val joined = src.join(tgt, st_predicate(col("s_geom"), col("t_geom"), "intersects"))
    val expected = bruteForce(srcRows, tgtRows).map { case (a, b) => (a, "s:" + a, b, b.length) }
    val names = src.columns.map("l_" + _) ++ tgt.columns.map("r_" + _)
    for (maxBytes <- Seq(0L, 64L << 20)) {
      val rewritten = GraftColumnBridge.dataFrame(spark,
        SpatialJoinRewrite(spark)(joined.queryExecution.analyzed, maxBytes)).toDF(names: _*)
      // every column, and a selection the optimizer prunes the sides to
      val all = rewritten.collect().map(r => (r.getAs[String]("l_s_id"), r.getAs[String]("l_tag"),
        r.getAs[String]("r_t_id"), r.getAs[Int]("r_tag"))).toSet
      assert(all === expected, s"bound $maxBytes")
      val pruned = rewritten.select("l_tag", "r_tag", "r_t_id").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
      assert(pruned === expected.map { case (_, a, b, c) => (a, c, b) }, s"bound $maxBytes")
      assert(rewritten.select("r___tile").distinct().collect().map(_.getLong(0)).toSeq ===
        Seq(7L), s"bound $maxBytes")
      val indexed = collect(rewritten.queryExecution.executedPlan) {
        case p: TileProbeExec => p.metrics("indexRows").value
      }
      assert(indexed === Seq(if (maxBytes == 0) 0L else tgtRows.size.toLong), s"bound $maxBytes")
    }
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
