package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import graft.operators.SpatialJoin

/** Differential tests of the spatial join against a brute-force JTS
  * oracle on randomly generated arbitrary geometries (polygons with
  * irregular star shapes, linestrings, points) — the pattern the
  * rectangle-based driver gate cannot cover. Fixed seed, pure JVM
  * generation (no reference-corpus data).
  */
object TestGeoms {
  private val gf = new GeometryFactory()

  /** Star-shaped polygon around a center: always simple and valid. */
  def starPolygon(rnd: scala.util.Random, cx: Double, cy: Double, rBase: Double): String = {
    val n = 5 + rnd.nextInt(8)
    val pts = (0 until n).map { i =>
      val ang = 2 * math.Pi * i / n
      val r = rBase * (0.5 + rnd.nextDouble())
      new Coordinate(cx + r * math.cos(ang), cy + r * math.sin(ang))
    }
    val ring = (pts :+ pts.head).toArray
    gf.createPolygon(ring).toText
  }

  def lineString(rnd: scala.util.Random, cx: Double, cy: Double, r: Double): String = {
    val n = 3 + rnd.nextInt(5)
    var x = cx; var y = cy
    val pts = (0 until n).map { _ =>
      x += (rnd.nextDouble() - 0.5) * r; y += (rnd.nextDouble() - 0.5) * r
      new Coordinate(x, y)
    }
    gf.createLineString(pts.toArray).toText
  }

  def point(rnd: scala.util.Random, cx: Double, cy: Double): String =
    gf.createPoint(new Coordinate(cx, cy)).toText

  /** Polygon with an interior ring (hole) — boundary subtleties live
    * here. The hole is a small square guaranteed inside the star's
    * inner radius. */
  def holePolygon(rnd: scala.util.Random, cx: Double, cy: Double, rBase: Double): String = {
    val n = 6 + rnd.nextInt(6)
    val pts = (0 until n).map { i =>
      val ang = 2 * math.Pi * i / n
      val r = rBase * (0.6 + 0.4 * rnd.nextDouble())
      new Coordinate(cx + r * math.cos(ang), cy + r * math.sin(ang))
    }
    val shell = gf.createLinearRing((pts :+ pts.head).toArray)
    val h = rBase * 0.2
    val hole = gf.createLinearRing(Array(
      new Coordinate(cx - h, cy - h), new Coordinate(cx - h, cy + h),
      new Coordinate(cx + h, cy + h), new Coordinate(cx + h, cy - h),
      new Coordinate(cx - h, cy - h)))
    gf.createPolygon(shell, Array(hole)).toText
  }

  /** MultiPolygon of two disjoint stars. */
  def multiPolygon(rnd: scala.util.Random, cx: Double, cy: Double, rBase: Double): String = {
    val rd = new org.locationtech.jts.io.WKTReader()
    val a = rd.read(starPolygon(rnd, cx, cy, rBase))
      .asInstanceOf[org.locationtech.jts.geom.Polygon]
    val b = rd.read(starPolygon(rnd, cx + rBase * 4, cy + rBase * 4, rBase))
      .asInstanceOf[org.locationtech.jts.geom.Polygon]
    gf.createMultiPolygon(Array(a, b)).toText
  }

  /** Mixed corpus of n geometries in a world x world space. */
  def corpus(seed: Long, n: Int, world: Double): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val cx = rnd.nextDouble() * world
      val cy = rnd.nextDouble() * world
      val wkt = rnd.nextInt(12) match {
        case 0 | 1      => point(rnd, cx, cy)
        case 2 | 3 | 4  => lineString(rnd, cx, cy, world / 20)
        case 5          => holePolygon(rnd, cx, cy, world / 22)
        case 6          => multiPolygon(rnd, cx, cy, world / 40)
        case _          => starPolygon(rnd, cx, cy, world / 25)
      }
      (s"g$i", wkt)
    }
  }
}

class SpatialJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  import org.locationtech.jts.io.WKTReader

  private def entitiesDf(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    SpatialJoin.entities(rows.toDF("id", "wkt"), col("id"), col("wkt"))
  }

  private val source = TestGeoms.corpus(seed = 11, n = 90, world = 100)
  private val target = TestGeoms.corpus(seed = 23, n = 70, world = 100)

  /** Brute-force oracle: all MBR-intersecting pairs with their DE-9IM. */
  private def bruteForce(src: Seq[(String, String)] = source,
                         tgt: Seq[(String, String)] = target): Map[(String, String), String] = {
    val rd = new WKTReader()
    val ss = src.map { case (id, w) => (id, rd.read(w)) }
    val tt = tgt.map { case (id, w) => (id, rd.read(w)) }
    (for {
      (sid, sg) <- ss
      (tid, tg) <- tt
      if sg.getEnvelopeInternal.intersects(tg.getEnvelopeInternal)
    } yield (sid, tid) -> sg.relate(tg).toString).toMap
  }

  /** Every node of a physical plan, through AQE wrappers and stages. */
  private def walk(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(walk)
  }

  /** Whether a physical plan (not yet executed) joins: the tile-join
    * path does, the tile-index path does not. */
  private def joins(df: DataFrame): Boolean =
    walk(df.queryExecution.sparkPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])

  /** The descriptions of the Spark jobs `body` starts, in start order:
    * each carries the description set when it started, `null` if none. */
  private def jobsOf(body: => Unit): List[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "spatial-join-spec-jobs"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, null)
      body
      // listener events arrive in order: once this job is seen, so is
      // every job `body` started
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!jobs.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      import scala.jdk.CollectionConverters._
      jobs.asScala.toList.filterNot(_ == "sentinel")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  /** Input layouts on both sides of candidatePairs' placement rule:
    * as built (a local scan over defaultParallelism slices: in place),
    * one partition (spread), and repartitioned to defaultParallelism
    * (in place). */
  private def layouts: Seq[(String, DataFrame => DataFrame)] = Seq(
    "as built" -> identity,
    "one partition" -> (_.coalesce(1)),
    "spread" -> (_.repartition(spark.sparkContext.defaultParallelism)))

  test("de9im matches brute-force JTS oracle on arbitrary geometries") {
    val expected = bruteForce()
    assert(expected.nonEmpty, "oracle should produce candidate pairs")
    val rows = layouts.map { case (layout, shape) =>
      val out = SpatialJoin.de9im(shape(entitiesDf(source)), shape(entitiesDf(target)))
        .collect()
      val got = out.map(r => (r.getString(0), r.getString(1)) -> r.getAs[String]("de9im")).toMap
      assert(got.keySet === expected.keySet,
        s"$layout: pair sets differ: missing=${(expected.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- expected.keySet).take(5)}")
      got.foreach { case (k, im) =>
        assert(im === expected(k), s"$layout: DE-9IM differs for $k") }
      out.toSet
    }
    assert(rows.distinct.size === 1, "de9im rows depend on the input layout")
  }

  test("candidatePairs spreads the narrow pairs on s_id only when an input " +
       "reads as fewer than defaultParallelism partitions") {
    // the placement rule of the tile-join path: the index path has no
    // narrow pairs to spread (it spreads the source instead)
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    val p = spark.sparkContext.defaultParallelism
    def sIdSpreads(shape: DataFrame => DataFrame): Seq[ShuffleExchangeExec] = {
      val s = shape(entitiesDf(source))
      val pairs = SpatialJoin.tileJoinPairs(s, shape(entitiesDf(target)),
        SpatialJoin.computeTheta(s))
      pairs.collect()
      walk(pairs.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM &&
            (e.outputPartitioning match {
              case h: HashPartitioning => h.references.map(_.name).toSet == Set("s_id")
              case _ => false
            }) => e
      }
    }
    val spread = layouts.map { case (layout, shape) => layout -> sIdSpreads(shape) }.toMap
    assert(spread("one partition").size === 1)
    val e = spread("one partition").head
    assert(e.outputPartitioning.numPartitions === p)
    assert(!e.output.exists(a => a.name == "s_geom" || a.name == "t_geom"),
      "the spread must sit before the blob joins")
    assert(spread("spread").isEmpty)
    assert(spread("as built").isEmpty)
  }

  test("the source geometry rides the tile join where theta bounds its " +
       "replication; a source entity 50 theta across keeps the s_id join-back") {
    // the tile-join path; the index path never joins a geometry back
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.functions.GeomFunctions.st_im
    // a 33-vertex circle 5,000 units across in the 100-unit world: θ is
    // the mean extent, so the circle alone spans over 50 θ on each axis
    val circle = "giant" -> new GeometryFactory()
      .createPoint(new Coordinate(50, 50)).buffer(2500).toText
    // with broadcasts (Spark's default threshold) the exploded target
    // tiles are broadcast and the riding source geometry never crosses
    // an exchange; with them off (as a spec sharing this session may
    // leave them) the shuffled joins move it, and only the s_id
    // join-back is gone
    def check(src: Seq[(String, String)], shape: DataFrame => DataFrame,
              ride: Boolean, broadcast: Boolean): SpatialJoin.Theta = {
      val s = shape(entitiesDf(src))
      val theta = SpatialJoin.computeTheta(s)
      val pairs = SpatialJoin.tileJoinPairs(s, shape(entitiesDf(target)), theta)
        .withColumn("im", st_im(col("s_geom"), col("t_geom")))
        .select(col("s_id"), col("t_id"), col("im.de9im"))
      val got = pairs.collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      assert(got === bruteForce(src, target))
      val nodes = walk(pairs.queryExecution.executedPlan)
      val sIdJoins = nodes.collect {
        case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys)
          .exists(_.references.exists(_.name == "s_id")) => j
      }
      val sGeomMoves = nodes.collect {
        case e: Exchange if e.output.exists(_.name == "s_geom") => e
      }
      assert(theta.ride === ride)
      if (ride) {
        assert(sIdJoins.isEmpty, "the riding source geometry was joined back on s_id")
        if (broadcast)
          assert(sGeomMoves.isEmpty, "an exchange moves the riding source geometry")
      } else assert(sIdJoins.nonEmpty, "the source geometry must be joined back on s_id")
      theta
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    try {
      for ((threshold, broadcast) <- Seq("10MB" -> true, "-1" -> false)) {
        spark.conf.set(key, threshold)
        check(source, identity, ride = true, broadcast)
        check(source, _.repartition(spark.sparkContext.defaultParallelism), ride = true,
          broadcast)
        val theta = check(source :+ circle, identity, ride = false, broadcast)
        assert(5000 / theta.x >= 50 && 5000 / theta.y >= 50, theta)
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Corpora for the two candidate paths: negative coordinates, MBR
    * edges on multiples of θ, zero-extent and point-only sources, and a
    * target far wider than θ. */
  private lazy val edgeCorpora
      : Seq[(String, Seq[(String, String)], Seq[(String, String)], (Double, Double))] = {
    val rnd = new scala.util.Random(5)
    def box(x0: Double, y0: Double, x1: Double, y1: Double) =
      s"POLYGON(($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
    def at(k: Int) = (rnd.nextInt(2 * k) - k).toDouble
    // every positive extent is 4, so θ = (4, 4) and each box edge on an
    // even coordinate lies on a tile border half the time
    val aligned = (0 until 80).map { i =>
      val (x, y) = (2 * at(20), 2 * at(20))
      s"s$i" -> (i % 4 match {
        case 0 => s"POINT($x $y)"
        case 1 => s"LINESTRING($x $y, ${x + 4} $y)"
        case 2 => s"LINESTRING($x $y, $x ${y + 4})"
        case _ => box(x, y, x + 4, y + 4)
      })
    }
    val targets = (0 until 60).map { i =>
      val (x, y) = (2 * at(20), 2 * at(20))
      s"t$i" -> (i % 3 match {
        case 0 => box(x, y, x + 2 * (1 + rnd.nextInt(4)), y + 2 * (1 + rnd.nextInt(4)))
        case 1 => TestGeoms.starPolygon(rnd, x, y, 3)
        case _ => s"LINESTRING($x $y, ${x + 6} ${y - 4})"
      })
    } :+ ("wide" -> box(-200, -12, 200, 12)) // 100 θ across
    // θ = (1, 1): the points sit on tile borders and box edges
    val points = (0 until 200).map(i => s"p$i" -> s"POINT(${at(15)} ${at(15)})")
    val boxes = (0 until 40).map { i =>
      val (x, y) = (at(15), at(15))
      s"b$i" -> box(x, y, x + 1 + rnd.nextInt(5), y + 1 + rnd.nextInt(5))
    } :+ ("wide" -> box(-31, -2, 31, 2)) // 62 θ across, past the points
    Seq(("theta-aligned", aligned, targets, (4.0, 4.0)),
      ("point-only source", points, boxes, (1.0, 1.0)))
  }

  test("the tile index and the tile join each equal brute-force JTS pair " +
       "for pair under every source and target layout") {
    import graft.functions.GeomFunctions.st_im
    def ims(pairs: DataFrame): Seq[((String, String), String)] =
      pairs.withColumn("im", st_im(col("s_geom"), col("t_geom")))
        .select(col("s_id"), col("t_id"), col("im.de9im")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toSeq
    for ((corpus, src, tgt, aligned) <- edgeCorpora) {
      val expected = bruteForce(src, tgt)
      assert(expected.size > 20, corpus)
      for ((sLayout, sShape) <- layouts; (tLayout, tShape) <- layouts) {
        val s = sShape(entitiesDf(src))
        val t = tShape(entitiesDf(tgt))
        val theta = SpatialJoin.computeTheta(s)
        assert((theta.x, theta.y) === aligned, corpus)
        val index = SpatialJoin.candidatePairs(s, t, theta)
        val tileJoin = SpatialJoin.tileJoinPairs(s, t, theta)
        assert(!joins(index) && joins(tileJoin))
        // a bound no target fits: the index path runs its fallback
        val fallback = SpatialJoin.candidatePairs(s, t, theta, maxBytes = 0)
        for ((path, pairs) <- Seq("index" -> index, "tile join" -> tileJoin,
                                  "index fallback" -> fallback)) {
          val got = ims(pairs)
          val at = s"$corpus, source $sLayout, target $tLayout, $path"
          assert(got.size === got.toMap.size, s"$at: duplicate pairs")
          assert(got.toMap.keySet === expected.keySet,
            s"$at: missing=${(expected.keySet -- got.toMap.keySet).take(5)} " +
            s"extra=${(got.toMap.keySet -- expected.keySet).take(5)}")
          assert(got.toMap === expected, s"$at: DE-9IM differs")
        }
        // the narrow pairs, by the index and by its fallback
        for ((path, pairs) <- Seq(
               "narrow index" -> SpatialJoin.candidatePairsNarrow(s, t, theta),
               "narrow fallback" -> SpatialJoin.candidatePairsNarrow(s, t, theta, maxBytes = 0))) {
          val got = pairs.select("s_id", "t_id").collect().map(r => (r.getString(0), r.getString(1)))
          val at = s"$corpus, source $sLayout, target $tLayout, $path"
          assert(!pairs.columns.contains("s_geom") && !pairs.columns.contains("t_geom"), at)
          assert(got.length === got.toSet.size, s"$at: duplicate pairs")
          assert(got.toSet === expected.keySet, s"$at: " +
            s"missing=${(expected.keySet -- got).take(5)} extra=${(got.toSet -- expected.keySet).take(5)}")
        }
      }
    }
  }

  /** The rows the index path's [[graft.operators.TileProbeExec]]
    * indexed in the execution of `df` that has run: 0 when it ran its
    * fallback. */
  private def indexedRows(df: DataFrame): Long =
    walk(df.queryExecution.executedPlan).collect {
      case p: graft.operators.TileProbeExec => p.metrics("indexRows").value
    }.sum

  test("on the index path de9im runs theta, the target collect and one " +
       "probe job, with no exchange") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val s = entitiesDf(source)
    val t = entitiesDf(target)
    val p = spark.sparkContext.defaultParallelism
    assert(Seq(s, t).forall(_.queryExecution.toRdd.getNumPartitions >= p))
    var out: DataFrame = null
    var rows = 0
    assert(jobsOf { out = SpatialJoin.de9im(s, t); rows = out.collect().length }.size === 3)
    assert(rows === bruteForce().size)
    assert(!walk(out.queryExecution.executedPlan).exists(_.isInstanceOf[Exchange]))
    assert(indexedRows(out) === target.size)
  }

  test("building the index path's frame runs no job; its first run " +
       "collects the target, a re-run reuses the index, a new frame collects anew") {
    val s = entitiesDf(source)
    val t = entitiesDf(target)
    val theta = SpatialJoin.computeTheta(s)
    var pairs: DataFrame = null
    assert(jobsOf { pairs = SpatialJoin.candidatePairs(s, t, theta) } === Nil)
    assert(jobsOf(pairs.collect()).size === 2)
    // Spark keeps an executed plan's RDD, as it keeps a broadcast join's relation
    assert(jobsOf(pairs.collect()).size === 1)
    assert(jobsOf(pairs.select(col("*")).collect()).size === 2)
  }

  test("a target that Catalyst sizes under the index bound but whose " +
       "measured index exceeds it takes the tile join, with the same pairs") {
    import graft.functions.GeomFunctions.st_im
    // star-shaped 400-vertex polygons: Catalyst costs each WKB at
    // 100 B, the rows take ~6.5 kB
    val rnd = new scala.util.Random(9)
    val heavy = (0 until 40).map { i =>
      val (cx, cy) = (rnd.nextDouble() * 100, rnd.nextDouble() * 100)
      val ring = (0 to 400).map(_ % 400).map { k =>
        val a = 2 * math.Pi * k / 400
        val r = 3 + (k % 24) * 0.1
        f"${cx + r * math.cos(a)}%.6f ${cy + r * math.sin(a)}%.6f"
      }
      s"h$i" -> ring.mkString("POLYGON((", ", ", "))")
    }
    val s = entitiesDf(source)
    val t = entitiesDf(heavy)
    val theta = SpatialJoin.computeTheta(s)
    val bound = 64L << 10
    val estimate = t.queryExecution.optimizedPlan.stats.sizeInBytes
    val measured = t.select(sum(octet_length(col("geom")))).first().getLong(0)
    assert(estimate <= bound && measured > 3 * bound, s"estimate $estimate, measured $measured")
    val expected = bruteForce(source, heavy)
    assert(expected.size > 20)
    for ((maxBytes, indexed) <- Seq(bound -> 0L, (64L << 20) -> heavy.size.toLong)) {
      val pairs = SpatialJoin.candidatePairs(s, t, theta, maxBytes)
        .withColumn("im", st_im(col("s_geom"), col("t_geom")))
        .select(col("s_id"), col("t_id"), col("im.de9im"))
      val got = pairs.collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2))
      assert(got.length === expected.size && got.toMap === expected, s"bound $maxBytes")
      assert(indexedRows(pairs) === indexed, s"bound $maxBytes")
    }
  }

  test("both candidate paths reject an MBR past the tile cap with " +
       "tile_cover's message, in the target and in the source") {
    import graft.functions.TileCover
    import graft.functions.GeomFunctions.st_im
    def box(x0: Double, y0: Double, x1: Double, y1: Double) =
      s"POLYGON(($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
    val unit = (0 until 8).map(i => s"u$i" -> box(i, i, i + 1, i + 1))
    // θ = (1, 1): 3000 × 3000 target tiles
    val wideTarget = (unit, Seq("wide" -> box(0, 0, 2999.5, 2999.5)), "avg")
    // θ = (0.001, 0.001) by the min statistic: 10⁴ × 10⁴ source tiles
    val wideSource = (Seq("tiny" -> box(0, 0, 0.001, 0.001), "wide" -> box(0, 0, 10, 10)),
      Seq("t" -> box(0, 0, 0.002, 0.002)), "min")
    for ((src, tgt, granularity) <- Seq(wideTarget, wideSource); path <- Seq("index", "fallback")) {
      val s = entitiesDf(src)
      val t = entitiesDf(tgt)
      val theta = SpatialJoin.computeTheta(s, granularity)
      val wide = (src ++ tgt).collect { case ("wide", w) => new WKTReader().read(w) }
        .head.getEnvelopeInternal
      val message = intercept[IllegalArgumentException](TileCover.compute(wide.getMinX,
        wide.getMinY, wide.getMaxX, wide.getMaxY, theta.x, theta.y)).getMessage
      // de9im on the index path; on the fallback, the same verification
      // over a bound no target fits
      val de9im =
        if (path == "index") SpatialJoin.de9im(s, t, granularity)
        else SpatialJoin.candidatePairs(s, t, theta, maxBytes = 0)
          .withColumn("im", st_im(col("s_geom"), col("t_geom")))
      val e = intercept[Exception](de9im.collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(c => String.valueOf(c.getMessage).contains(message)),
        s"$path: $e")
    }
  }

  test("computeTheta is one Spark job, equals the DataFrame aggregate of " +
       "the positive extents, and returns the same bits on every call") {
    val s = entitiesDf(source)
    assert(jobsOf(SpatialJoin.computeTheta(s)).size === 1)
    def close(a: Double, e: Double): Boolean = math.abs(a - e) <= 1e-12 * math.abs(e)
    for (corpus <- Seq(source, target)) {
      val df = entitiesDf(corpus)
      val ex = col("maxx") - col("minx")
      val ey = col("maxy") - col("miny")
      val r = df.agg(avg(when(ex > 0, ex)), avg(when(ey > 0, ey)),
        min(when(ex > 0, ex)), min(when(ey > 0, ey)),
        max(when(ex > 0, ex)), max(when(ey > 0, ey))).head()
      val expected = Map(
        "avg" -> (r.getDouble(0), r.getDouble(1)),
        "avg2" -> (0.5 * r.getDouble(0), 0.5 * r.getDouble(1)),
        "min" -> (r.getDouble(2), r.getDouble(3)),
        "max" -> (r.getDouble(4), r.getDouble(5)),
        "none" -> (1.0, 1.0))
      expected.foreach { case (g, (ex0, ey0)) =>
        val calls = Seq.fill(3)(SpatialJoin.computeTheta(df, g))
        val t = calls.head
        assert(close(t.x, ex0) && close(t.y, ey0), s"$g: $t vs ($ex0, $ey0)")
        assert(calls.map(c => (java.lang.Double.doubleToRawLongBits(c.x),
          java.lang.Double.doubleToRawLongBits(c.y), c.ride)).distinct.size === 1,
          s"$g: $calls")
      }
    }
  }

  test("Spread runs no Spark job on a frame whose plan has a shuffle") {
    val shuffled = spark.range(0, 1000, 1, 2).groupBy((col("id") % 7).as("k")).count()
    var out: DataFrame = null
    assert(jobsOf { out = graft.spark.Spread(shuffled) } === Nil)
    assert(out eq shuffled)
  }

  test("replication produces no duplicate pairs (reference-point dedup)") {
    val pairs = SpatialJoin.de9im(entitiesDf(source), entitiesDf(target))
      .groupBy("s_id", "t_id").count().filter(col("count") > 1).count()
    assert(pairs === 0)
  }

  test("single-relation join equals the relation's oracle subset") {
    val rd = new WKTReader()
    val expected = (for {
      (sid, sg) <- source.map { case (id, w) => (id, rd.read(w)) }
      (tid, tg) <- target.map { case (id, w) => (id, rd.read(w)) }
      if sg.intersects(tg)
    } yield (sid, tid)).toSet
    val got = SpatialJoin.relate(entitiesDf(source), entitiesDf(target), "intersects")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === expected)
  }

  test("negative-coordinate world: declarative, typed and brute force " +
       "all agree") {
    // centered at the origin: tile indices are negative
    // — floor vs truncation bugs live here
    val gf2 = new GeometryFactory()
    val rnd = new scala.util.Random(123)
    def shifted(seed: Long, n: Int) = TestGeoms.corpus(seed, n, 80).map {
      case (id, wkt) =>
        val g = new WKTReader().read(wkt)
        val t = org.locationtech.jts.geom.util.AffineTransformation
          .translationInstance(-40, -40)
        (id, t.transform(g).toText)
    }
    val src = shifted(201, 70)
    val tgt = shifted(202, 60)
    val rd = new WKTReader()
    val expected = (for {
      (sid, sw) <- src; (tid, tw) <- tgt
      sg = rd.read(sw); tg = rd.read(tw)
      if sg.getEnvelopeInternal.intersects(tg.getEnvelopeInternal)
    } yield (sid, tid) -> sg.relate(tg).toString).toMap
    val decl = SpatialJoin.de9im(entitiesDf(src), entitiesDf(tgt))
      .select("s_id", "t_id", "de9im").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(decl === expected)
  }

  test("entities drops invalid WKT, empty and GeometryCollection rows") {
    import spark.implicits._
    val rows = Seq(
      ("ok",  "POINT(1 2)"),
      ("bad", "POLYGON((borked"),
      ("gc",  "GEOMETRYCOLLECTION(POINT(1 1), LINESTRING(0 0, 1 1))"),
      ("bow", "POLYGON((0 0, 2 2, 2 0, 0 2, 0 0))"), // self-intersecting
      ("emp", "POLYGON EMPTY"))
    val kept = SpatialJoin.entities(rows.toDF("id", "wkt"), col("id"), col("wkt"))
      .select("id").collect().map(_.getString(0)).toSet
    assert(kept === Set("ok"))
  }

  test("theta falls back for zero-extent (point-only) sources") {
    val pts = (0 until 10).map(i => (s"p$i", s"POINT($i $i)"))
    val th = SpatialJoin.computeTheta(entitiesDf(pts))
    assert(th.x === 1.0 && th.y === 1.0)
    // EVERY statistic must keep the fallback: max(extent) over a
    // point-only axis is 0.0 (not NULL) — unguarded it would clamp to
    // the 1e-9 floor and explode each MBR into ~extent/1e-9 tiles
    for (g <- Seq("avg", "avg2", "min", "max")) {
      val t = SpatialJoin.computeTheta(entitiesDf(pts), g)
      assert(t.x === 1.0 && t.y === 1.0, s"granularity $g: $t")
    }
  }

  test("computeTheta granularity statistics match the reference's " +
       "TileGranularities semantics (min filters zero extents)") {
    // two boxes (extents 2×4 and 6×8) and one point (zero extent)
    val rows = Seq(
      ("a", "POLYGON((0 0, 2 0, 2 4, 0 4, 0 0))"),
      ("b", "POLYGON((10 10, 16 10, 16 18, 10 18, 10 10))"),
      ("p", "POINT(5 5)"))
    val df = entitiesDf(rows)
    val avg = SpatialJoin.computeTheta(df, "avg")
    assert(avg.x === 4.0 && avg.y === 6.0) // mean of non-degenerate
    val avg2 = SpatialJoin.computeTheta(df, "avg2")
    assert(avg2.x === 2.0 && avg2.y === 3.0)
    val mn = SpatialJoin.computeTheta(df, "min")
    assert(mn.x === 2.0 && mn.y === 4.0) // zero extents filtered
    val mx = SpatialJoin.computeTheta(df, "max")
    assert(mx.x === 6.0 && mx.y === 8.0)
    val none = SpatialJoin.computeTheta(df, "none")
    assert(none.x === 1.0 && none.y === 1.0)
    intercept[IllegalArgumentException] {
      SpatialJoin.computeTheta(df, "median")
    }
    // default overload unchanged
    assert(SpatialJoin.computeTheta(df) === avg)
  }

  test("overlayArea matches brute-force JTS set-intersection areas on " +
       "arbitrary geometries") {
    val rd = new WKTReader()
    val ss = source.map { case (id, w) => (id, rd.read(w)) }
    val tt = target.map { case (id, w) => (id, rd.read(w)) }
    val expected = (for {
      (_, sg) <- ss
      (tid, tg) <- tt
      if sg.intersects(tg)
    } yield tid -> sg.intersection(tg).getArea)
      .groupBy(_._1)
      .map { case (tid, xs) => tid -> ((xs.size.toLong, xs.map(_._2).sum)) }
    val got = SpatialJoin
      .overlayArea(entitiesDf(source), entitiesDf(target))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (tid, (n, a)) =>
      assert(n === expected(tid)._1, s"pair count differs for $tid")
      assert(math.abs(a - expected(tid)._2) <=
        1e-9 * math.max(1.0, expected(tid)._2.abs),
        s"area differs for $tid: $a vs ${expected(tid)._2}")
    }
    assert(got.nonEmpty)
  }

  test("countVerifications equals the MBR-intersecting pair count and " +
       "plans no geometry join-backs") {
    val expected = bruteForce().size.toLong
    assert(SpatialJoin.countVerifications(entitiesDf(source), entitiesDf(target))
      === expected)
    // the count path must stay narrow: no WKB blobs in the plan
    val theta = SpatialJoin.computeTheta(entitiesDf(source))
    val narrow = SpatialJoin
      .candidatePairsNarrow(entitiesDf(source), entitiesDf(target), theta)
    val plan = narrow.queryExecution.optimizedPlan
    assert(!plan.output.map(_.name).contains("s_geom"))
    assert(!plan.toString.contains("s_geom"))
    // and it probes the tile index: nothing explodes
    assert(narrow.collect().length === expected)
    val executed = walk(narrow.queryExecution.executedPlan)
    assert(executed.exists(_.isInstanceOf[graft.operators.TileProbeExec]))
    assert(!executed.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]))
  }

  test("sp20 tile density equals a driver-side floor-range recompute " +
       "over the collected boxes (incl. the packed-id decode)") {
    val dir = "/root/testdata/sf0.001"
    val boxes = graft.operators.GeoQueries.partBoxes(spark, dir)
      .select(col("minx"), col("miny"), col("maxx"), col("maxy"))
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val expect = boxes.flatMap { case (x0, y0, x1, y1) =>
      for {
        tx <- math.floor(x0 / 10).toLong to math.floor(x1 / 10).toLong
        ty <- math.floor(y0 / 10).toLong to math.floor(y1 / 10).toLong
      } yield (tx, ty)
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = graft.operators.GeoQueries.sp20TileDensity(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expect)
    // no-dedup check, independent of `expect`: total tile rows equal
    // the closed-form per-box cover sizes (nx * ny per box)
    val coverSizes = boxes.map { case (x0, y0, x1, y1) =>
      (math.floor(x1 / 10).toLong - math.floor(x0 / 10).toLong + 1) *
        (math.floor(y1 / 10).toLong - math.floor(y0 / 10).toLong + 1)
    }.sum
    assert(got.values.sum === coverSizes)
  }
}
