package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-gate queries for the spatial engine.
  *
  * Geometries are derived deterministically from the TPC-H integer keys
  * (axis-aligned boxes from `part`/`supplier`, points from `customer`)
  * with pure integer arithmetic, then rendered to WKT and pushed through
  * the REAL pipeline: WKT parse → envelope → θ → tile join → MBR filter
  * → reference-point dedup → JTS verification. Because the inputs are
  * integer rectangles/points, every DE-9IM outcome is also expressible
  * in plain SQL comparisons — giving DuckDB oracles for the full
  * engine without any spatial extension. Arbitrary-polygon coverage
  * lives in the ScalaTest JTS differential suite.
  */
object GeoQueries {

  // --- deterministic geometry derivations (same formulas in oracle SQL) ---

  /** Boxes from part: ~2k at sf0.01 in a 1000x1000 integer space. */
  private def partBoxWkt(df: DataFrame): DataFrame = {
    val xmin = (col("p_partkey") * 13) % 980
    val ymin = (col("p_partkey") * 29) % 980
    val xmax = xmin + lit(1) + col("p_size") % 19
    val ymax = ymin + lit(1) + col("p_partkey") % 17
    df.select(col("p_partkey").as("id"),
      rectWkt(xmin, ymin, xmax, ymax).as("wkt"))
  }

  /** Boxes from supplier (smaller side — broadcast candidate). */
  private def supplierBoxWkt(df: DataFrame): DataFrame = {
    val xmin = (col("s_suppkey") * 37) % 980
    val ymin = (col("s_suppkey") * 41) % 980
    val xmax = xmin + lit(1) + col("s_suppkey") % 23
    val ymax = ymin + lit(1) + (col("s_suppkey") * 7) % 13
    df.select(col("s_suppkey").as("id"),
      rectWkt(xmin, ymin, xmax, ymax).as("wkt"))
  }

  /** Triangles from customer: v0=(ax,ay), v1=(ax+w,ay), v2=(ax+u,ay+h)
    * with w,h >= 2 and apex offset u in [-14,14] — positive area w*h/2,
    * CCW, integer coordinates. The horizontal base edge makes one SAT
    * axis collapse into the y-axis, so the DuckDB oracle needs only two
    * extra separating axes per pair (see [[TriangleSql]]). These put
    * the NON-rectangle verification path (JTS relate / prepared RelateNG)
    * through the hash-checked driver gate. */
  private def customerTriangleWkt(df: DataFrame): DataFrame = {
    val ax = (col("c_custkey") * 19) % 970
    val ay = (col("c_custkey") * 31) % 970
    val w = lit(2) + col("c_custkey") % 17
    val h = lit(2) + col("c_custkey") % 13
    val u = (col("c_custkey") * 7) % 29 - 14
    df.select(col("c_custkey").as("id"),
      concat(lit("POLYGON(("),
        ax, lit(" "), ay, lit(", "),
        ax + w, lit(" "), ay, lit(", "),
        ax + u, lit(" "), ay + h, lit(", "),
        ax, lit(" "), ay, lit("))")).as("wkt"))
  }

  /** Horizontal segments from orders: LINESTRING(x0 y, x1 y) with
    * length 3..27 — 1-D operands whose DE-9IM against a box is pure
    * interval arithmetic (the segment is its own envelope), giving the
    * gate its first non-trivial `crosses` and line-`touches` rows. */
  private def orderSegmentWkt(df: DataFrame): DataFrame = {
    val x0 = (col("o_orderkey") * 23) % 970
    val y = (col("o_orderkey") * 41) % 990
    val x1 = x0 + lit(3) + col("o_orderkey") % 25
    df.select(col("o_orderkey").as("id"),
      concat(lit("LINESTRING("), x0, lit(" "), y, lit(", "),
        x1, lit(" "), y, lit(")")).as("wkt"))
  }

  /** Points from customer. */
  private def customerPointWkt(df: DataFrame): DataFrame =
    df.select(col("c_custkey").as("id"),
      concat(lit("POINT("), (col("c_custkey") * 17) % 1000, lit(" "),
        (col("c_custkey") * 23) % 1000, lit(")")).as("wkt"))

  private def rectWkt(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    concat(lit("POLYGON(("),
      xmin, lit(" "), ymin, lit(", "),
      xmax, lit(" "), ymin, lit(", "),
      xmax, lit(" "), ymax, lit(", "),
      xmin, lit(" "), ymax, lit(", "),
      xmin, lit(" "), ymin, lit("))"))

  /** Session-level entity memoization: a query computes θ (one job)
    * and then joins (second job) over the same entities, and the gate
    * runs many queries per session — persisting the parsed entities
    * mirrors the reference's MEMORY_AND_DISK persist of the source
    * (DS-JedAI `experiments/GiantExp.scala:77`). Entries live in
    * [[graft.spark.DfCache]]; Verify/Bench release them at end of run. */
  private def memo(s: SparkSession, dir: String, key: String)
                  (build: => DataFrame): DataFrame =
    graft.spark.DfCache.memo(s, s"$dir#$key")(build)

  // NOTE (round 15): corpus-level spreading (repartition the parsed
  // entities across cores) was measured here and REVERTED — it fixed
  // the serialized DE-9IM verification (sp10 3.6 s -> 1.4 s) but made
  // the per-partition consumers of the same memos SLOWER (Progressive
  // builds per-partition budgets: pr11 1.39 -> 2.58 s fresh-JVM A/B).
  // The corpora keep their natural scan partitioning;
  // SpatialJoin.candidatePairs spreads the SOURCE before it probes the
  // target's tile index (or, on the tile-join path for targets whose
  // index exceeds its bound, the NARROW pair frame before the blob joins) whenever
  // it reads as fewer partitions than defaultParallelism, as these memos
  // do at gate scale.

  private[graft] def partBoxes(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "partBoxes") {
      SpatialJoin.entities(partBoxWkt(part(s, dir)), col("id"), col("wkt"))
    }
  private[graft] def supplierBoxes(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "supplierBoxes") {
      SpatialJoin.entities(supplierBoxWkt(supplier(s, dir)), col("id"), col("wkt"))
    }

  /** Deterministic per-entity dates for the spatio-temporal join. */
  private def derivedDate(key: Column): Column =
    date_add(to_date(lit("1995-06-01")), (key % 10).cast("int"))
  private def partBoxesTemporal(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.entities(
      partBoxWkt(part(s, dir)).withColumn("ts", derivedDate(col("id"))),
      col("id"), col("wkt"), "ts" -> col("ts"))
  private def supplierBoxesTemporal(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.entities(
      supplierBoxWkt(supplier(s, dir)).withColumn("ts", derivedDate(col("id"))),
      col("id"), col("wkt"), "ts" -> col("ts"))
  private[graft] def customerPoints(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "customerPoints") {
      SpatialJoin.entities(customerPointWkt(customer(s, dir)), col("id"), col("wkt"))
    }
  private[graft] def customerTriangles(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "customerTriangles") {
      SpatialJoin.entities(customerTriangleWkt(customer(s, dir)), col("id"), col("wkt"))
    }

  private[graft] def orderSegments(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "orderSegments") {
      SpatialJoin.entities(orderSegmentWkt(orders(s, dir)), col("id"), col("wkt"))
    }

  /** Mixed-shape corpus (boxes ∪ triangles) with ids prefixed for the
    * engine-wide uniqueness contract — part keys and customer keys
    * collide numerically. */
  private[graft] def mixedCorpus(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "mixedCorpus") {
      partBoxes(s, dir).withColumn("id", concat(lit("b"), col("id")))
        .unionByName(
          customerTriangles(s, dir).withColumn("id", concat(lit("t"), col("id"))))
    }

  // Shared oracle CTEs mirroring the derivations above.
  private[graft] val geomCtes =
    """WITH sb AS (
         SELECT p_partkey AS id,
                (p_partkey*13)%980 AS xmin, (p_partkey*29)%980 AS ymin,
                (p_partkey*13)%980 + 1 + p_size%19 AS xmax,
                (p_partkey*29)%980 + 1 + p_partkey%17 AS ymax
         FROM part),
       tb AS (
         SELECT s_suppkey AS id,
                (s_suppkey*37)%980 AS xmin, (s_suppkey*41)%980 AS ymin,
                (s_suppkey*37)%980 + 1 + s_suppkey%23 AS xmax,
                (s_suppkey*41)%980 + 1 + (s_suppkey*7)%13 AS ymax
         FROM supplier),
       pts AS (
         SELECT c_custkey AS id,
                (c_custkey*17)%1000 AS x, (c_custkey*23)%1000 AS y
         FROM customer)"""

  // Triangle CTE mirroring customerTriangleWkt: base vertices and the
  // derived envelope (apex offset u can push x beyond either base end).
  private[graft] val triCte =
    """tri AS (
         SELECT c_custkey AS id,
                (c_custkey*19)%970 AS ax, (c_custkey*31)%970 AS ay,
                2 + c_custkey%17 AS w, 2 + c_custkey%13 AS h,
                (c_custkey*7)%29 - 14 AS u
         FROM customer),
       trie AS (
         SELECT id, ax, ay, w, h, u,
                least(ax, ax+u) AS xmin, greatest(ax+w, ax+u) AS xmax,
                ay AS ymin, ay+h AS ymax
         FROM tri)"""

  /** Triangle-box topology as closed-form SQL over the `trie` (alias s)
    * and box (alias t) CTEs — the separating axis theorem for a convex
    * triangle against an axis-aligned box. The box contributes the x
    * and y axes; the triangle's horizontal base edge has normal
    * (0, w) ∝ y-axis (redundant), so only the two sloped edge normals
    * n1 = (-h, u-w) (edge v1→v2) and n2 = (h, -u) (edge v2→v0) remain.
    * Closed sets intersect iff projections overlap INCLUSIVELY on all
    * four axes; interiors intersect iff they overlap STRICTLY on all
    * four (both operands have positive extent along every axis, so the
    * open-interval argument applies). All arithmetic is small-integer
    * exact in both engines. */
  private object TriangleSql {
    private def dot(nx: String, ny: String, x: String, y: String) =
      s"(($nx)*($x) + ($ny)*($y))"
    private def axisOverlap(nx: String, ny: String, strict: Boolean): String = {
      val tpro = Seq(("s.ax", "s.ay"), ("s.ax+s.w", "s.ay"), ("s.ax+s.u", "s.ay+s.h"))
        .map { case (x, y) => dot(nx, ny, x, y) }
      val bpro = Seq(("t.xmin", "t.ymin"), ("t.xmin", "t.ymax"),
                     ("t.xmax", "t.ymin"), ("t.xmax", "t.ymax"))
        .map { case (x, y) => dot(nx, ny, x, y) }
      val tlo = s"least(${tpro.mkString(", ")})"
      val thi = s"greatest(${tpro.mkString(", ")})"
      val blo = s"least(${bpro.mkString(", ")})"
      val bhi = s"greatest(${bpro.mkString(", ")})"
      val op = if (strict) ">" else ">="
      s"($thi $op $blo AND $bhi $op $tlo)"
    }
    private def envOverlap(strict: Boolean): String = {
      val le = if (strict) "<" else "<="
      val ge = if (strict) ">" else ">="
      s"(s.xmin $le t.xmax AND s.xmax $ge t.xmin AND " +
        s"s.ymin $le t.ymax AND s.ymax $ge t.ymin)"
    }
    private def sat(strict: Boolean): String =
      Seq(envOverlap(strict),
        axisOverlap("-s.h", "s.u - s.w", strict),
        axisOverlap("s.h", "-s.u", strict)).mkString("(", " AND ", ")")
    val intersects: String = sat(strict = false)
    val interiorsIntersect: String = sat(strict = true)
    // Closed point-in-triangle: the triangle is CCW (area w*h/2 > 0),
    // so a point is in the closed triangle iff every directed-edge
    // cross product is >= 0.
    private def insideTri(px: String, py: String): String = Seq(
      s"(($py) - s.ay >= 0)",
      s"((s.u - s.w)*(($py) - s.ay) - s.h*(($px) - s.ax - s.w) >= 0)",
      s"(-s.u*(($py) - s.ay - s.h) + s.h*(($px) - s.ax - s.u) >= 0)"
    ).mkString("(", " AND ", ")")
    /** Triangle contains box: all four corners in the closed triangle
      * (positive-area operands make the interior condition automatic,
      * as in the box-box oracle). */
    val contains: String = Seq(
      insideTri("t.xmin", "t.ymin"), insideTri("t.xmin", "t.ymax"),
      insideTri("t.xmax", "t.ymin"), insideTri("t.xmax", "t.ymax"))
      .mkString("(", " AND ", ")")
    /** Triangle within box: envelope containment suffices (the box IS
      * its envelope). */
    val within: String =
      "(s.xmin >= t.xmin AND s.xmax <= t.xmax AND " +
        "s.ymin >= t.ymin AND s.ymax <= t.ymax)"
    val touches: String = s"($intersects AND NOT $interiorsIntersect)"
    val overlaps: String = s"($interiorsIntersect AND NOT $contains AND NOT $within)"
  }

  // --- queries ---

  /** Single-relation spatial join: part boxes containing customer
    * points (point on the boundary is NOT contained — JTS semantics). */
  def sp1PointInBox(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.relate(partBoxes(s, dir), customerPoints(s, dir), "contains")
      .orderBy(col("s_id"), col("t_id"))

  /** Single-relation spatial join: part boxes intersecting supplier
    * boxes (touching counts — inclusive). */
  def sp2BoxIntersects(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.relate(partBoxes(s, dir), supplierBoxes(s, dir), "intersects")
      .orderBy(col("s_id"), col("t_id"))

  /** Holistic interlinking relation counts — the GIA.nt headline
    * output (verifications + per-relation totals). */
  def sp3RelationCounts(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.relationCounts(partBoxes(s, dir), supplierBoxes(s, dir))

  /** sp3 at thetaGranularity = max (reference ThetaOption.MAX,
    * `model/TileGranularities.scala:29-31`): identical oracle to sp3 —
    * the verified pair set (verifications = deduped MBR-intersecting
    * pairs) and every relation count are θ-invariant; only tile
    * replication changes. Gates the non-AVG θ statistics end to end
    * through the driver's hash (round-9 verdict item 4);
    * ConfigRunnerSpec covers min/avg2/none by result equality. */
  def sp18ThetaMax(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.relationCounts(partBoxes(s, dir), supplierBoxes(s, dir),
      granularity = "max")

  /** sp19: overlay-area aggregation — per supplier box, how many part
    * boxes intersect it and their TOTAL intersection area, via the θ-
    * tile pipeline + one JTS set-intersection per verified pair
    * ([[SpatialJoin.overlayArea]]). The corpus is integer rectangles,
    * so the JTS shoelace area is exact double arithmetic and the
    * closed-form SQL oracle (clamped per-axis overlap product) hashes
    * bit-identically — the measure twin of the boolean sp4 join. */
  def sp19OverlayArea(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.overlayArea(partBoxes(s, dir), supplierBoxes(s, dir),
      integerAreas = true)
      .select(col("t_id").as("supp_id"), col("n_pairs"), col("overlap_area"))
      .orderBy(col("supp_id"))

  /** Per-pair DE-9IM booleans for every verified pair. */
  def sp4De9imPairs(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.de9im(partBoxes(s, dir), supplierBoxes(s, dir))
      .select(col("s_id"), col("t_id"), col("intersects"), col("contains"),
        col("within"), col("equals"), col("touches"), col("overlaps"))
      .orderBy(col("s_id"), col("t_id"))

  /** Spatio-temporal join: intersecting boxes whose derived dates are
    * within ±2 days (the reference's SpatioTemporalEntity predicate). */
  def sp5TemporalJoin(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.temporalRelate(partBoxesTemporal(s, dir),
      supplierBoxesTemporal(s, dir), "intersects", maxDays = 2)
      .orderBy(col("s_id"), col("t_id"))

  /** Triangle ∩ box single-relation join — the general-polygon (non-
    * rectangle) verification path through the hash-checked gate: every
    * source geometry is a triangle, so NO pair can take the analytic
    * rectangle-pair fast path; verification is the triangle's JTS
    * PreparedGeometry intersects against the whole box. */
  def sp6TriangleBoxIntersects(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.relate(customerTriangles(s, dir), supplierBoxes(s, dir), "intersects")
      .orderBy(col("s_id"), col("t_id"))

  /** Holistic relation counts over the mixed-shape corpus (boxes ∪
    * triangles vs boxes) — rectangle fast path and general relate in
    * ONE hash-checked aggregate. */
  def sp7MixedRelationCounts(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.relationCounts(mixedCorpus(s, dir), supplierBoxes(s, dir))

  /** Line ∩ box DE-9IM booleans — the 1-D operand path: `crosses` and
    * the line-dimension `touches`/`within`/`coveredby` semantics are
    * hash-checked (every prior gate relation was areal or 0-D). */
  def sp8LineBoxDe9im(s: SparkSession, dir: String): DataFrame =
    // the segment corpus is orders-sized, so the pair volume times
    // per-pair interval IM is the gate's cost center; the single-
    // partition source makes candidatePairs spread it before the probe
    // (measured as a narrow-pair spread, 4 cores, sf0.1: 1.1 s spread
    // vs 1.7 s in place)
    SpatialJoin.de9im(orderSegments(s, dir), supplierBoxes(s, dir))
      .select(col("s_id"), col("t_id"), col("intersects"), col("crosses"),
        col("touches"), col("within"), col("coveredby"))
      .orderBy(col("s_id"), col("t_id"))

  /** sp6 with the operands swapped: supplier boxes are the source, so
    * θ comes from the box extents and the box is the prepared operand
    * of every intersects check; the ids are swapped back so the rows
    * equal sp6's exactly (same oracle SQL). The gate name is part of
    * the driver contract; no θ-grid segments are involved. */
  def sp9SegmentedTriangle(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.relate(supplierBoxes(s, dir), customerTriangles(s, dir), "intersects")
      .select(col("t_id").as("s_id"), col("s_id").as("t_id"))
      .orderBy(col("s_id"), col("t_id"))

  /** DE-9IM with the prepared branch of [[graft.functions.StIm.matrix]]
    * FORCED (minPoints=4, so every triangle-box pair is over the
    * cutoff): the prepared RelateNG kernel (the larger operand prepared
    * once per thread, the matrix transposed back when that is the
    * right-hand one) is hash-checked against the closed-form SAT
    * oracle. The gate name is part of the driver contract; no θ-grid
    * segments are involved. */
  def sp10SegmentedIm(s: SparkSession, dir: String): DataFrame =
    // the single-partition source makes candidatePairs spread it
    // across cores before it probes the boxes' tile index
    SpatialJoin.de9im(customerTriangles(s, dir), supplierBoxes(s, dir),
      minPoints = 4)
      .select(col("s_id"), col("t_id"), col("intersects"), col("contains"),
        col("within"), col("touches"), col("overlaps"))
      .orderBy(col("s_id"), col("t_id"))

  /** Fine-grained-envelope join (D3) on the triangle corpus, restricted
    * to intersecting pairs: the sub-envelope filter provably preserves
    * every non-disjoint pair (sub-envelopes cover the geometry), so the
    * intersecting subset is exactly the SAT oracle's — the filter and
    * the verification are both hash-checked without modelling the slab
    * clipping in SQL. */
  def sp11FineGrainedIm(s: SparkSession, dir: String): DataFrame =
    // per-pair cost = the sub-envelope exists() filter plus JTS st_im
    // on survivors; spread by candidatePairs like sp10 (measured as a
    // narrow-pair spread, 4 cores, sf0.1: 1.3 s spread vs 2.3 s in place)
    SpatialJoin.de9imFineGrained(customerTriangles(s, dir), supplierBoxes(s, dir))
      .filter(col("intersects"))
      .select(col("s_id"), col("t_id"), col("contains"), col("within"),
        col("touches"), col("overlaps"))
      .orderBy(col("s_id"), col("t_id"))

  /** DE-9IM of the triangle × box corpus with its relation booleans,
    * the same SAT oracle as sp10. The gate name is part of the driver
    * contract; the reference's z-score skew split (L1-L5) it once ran
    * was measured slower than this join and deleted (COVERAGE §2.8). */
  def sp12BalancedIm(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.de9im(customerTriangles(s, dir), supplierBoxes(s, dir))
      .select(col("s_id"), col("t_id"), col("intersects"), col("contains"),
        col("within"), col("touches"), col("overlaps"))
      .orderBy(col("s_id"), col("t_id"))

  /** The intersects bit of every MBR-intersecting triangle × box pair,
    * over sp12's join. The gate keeps its name, which keys its oracle;
    * there is no typed cogroup path behind it, because the engine has
    * one tile pipeline ([[SpatialJoin]]). */
  def sp13Intersects(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.de9im(customerTriangles(s, dir), supplierBoxes(s, dir))
      .select(col("s_id"), col("t_id"), col("intersects"))
      .orderBy(col("s_id"), col("t_id"))

  /** sp14: Z-order layout pruning — parts whose box min-corner falls
    * in the 64×64-aligned query tile at (512, 256), retrieved purely
    * through a RANGE predicate on the Morton z-value. For an aligned
    * power-of-two tile the z-values of interior cells are one
    * contiguous interval (the curve's prefix property), so a table
    * written sorted by zval answers spatial tile queries through
    * ordinary parquet min/max file statistics — the at-rest layout
    * story for 100 TB (see [[graft.functions.ZCurve.layoutByZ]]).
    * ZCurveSpec proves range ≡ box predicate on every aligned tile. */
  def sp14Zorder(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ZCurve
    val lo = ZCurve.zValueOf(512, 256, 10)
    val hi = ZCurve.zValueOf(512 + 63, 256 + 63, 10)
    part(s, dir)
      .select(col("p_partkey").as("id"),
        ((col("p_partkey") * 13) % 980).as("x"),
        ((col("p_partkey") * 29) % 980).as("y"))
      .withColumn("zval", ZCurve.zValue(col("x"), col("y"), 10))
      .filter(col("zval").between(lo, hi))
      .select(col("id"), col("x"), col("y"), col("zval"))
      .orderBy(col("zval"), col("id"))
  }

  /** sp15: exact distributed kNN join ([[KnnJoin]]) — each customer
    * point's 3 nearest supplier-box centroids. Candidates come from a
    * √-sized grid (3×3 block equi-join), exactness from the per-source
    * certificate + bounded residual pass; the oracle is the brute
    * cross-join kNN, so the gate hash-proves grid+residual ≡ exact.
    * Centroids are half-integer (integer boxes), so distance² is exact
    * double arithmetic in both engines. */
  def sp15KnnJoin(s: SparkSession, dir: String): DataFrame = {
    val src = customer(s, dir).select(
      col("c_custkey").as("src_id"),
      ((col("c_custkey") * 17) % 1000).cast("double").as("x"),
      ((col("c_custkey") * 23) % 1000).cast("double").as("y"))
    val tgt = supplier(s, dir).select(
      col("s_suppkey").as("tgt_id"),
      (((col("s_suppkey") * 37) % 980).cast("double") +
        (lit(1) + col("s_suppkey") % 23) / 2.0).as("x"),
      (((col("s_suppkey") * 41) % 980).cast("double") +
        (lit(1) + (col("s_suppkey") * 7) % 13) / 2.0).as("y"))
    KnnJoin.knnJoin(src, tgt, k = 3)
      .orderBy(col("src_id"), col("rank"))
  }

  /** sp16: exact ε-distance join ([[DistanceJoin]]) — customer points
    * within 50 units of a supplier-box centroid. Candidates come from a
    * g≥ε grid (3×3 block equi-join); coverage is exact by construction
    * (cell width ≥ radius), so unlike sp15 there is no residual pass.
    * The oracle is the brute cross-join distance filter — the gate
    * hash-proves grid ≡ exact. Half-integer coordinates make d2 and
    * the ≤ ε² comparison exact double arithmetic in both engines. */
  def sp16DistanceJoin(s: SparkSession, dir: String): DataFrame = {
    val src = customer(s, dir).select(
      col("c_custkey").as("src_id"),
      ((col("c_custkey") * 17) % 1000).cast("double").as("x"),
      ((col("c_custkey") * 23) % 1000).cast("double").as("y"))
    val tgt = supplier(s, dir).select(
      col("s_suppkey").as("tgt_id"),
      (((col("s_suppkey") * 37) % 980).cast("double") +
        (lit(1) + col("s_suppkey") % 23) / 2.0).as("x"),
      (((col("s_suppkey") * 41) % 980).cast("double") +
        (lit(1) + (col("s_suppkey") * 7) % 13) / 2.0).as("y"))
    DistanceJoin.distanceJoin(src, tgt, radius = 50.0)
      .orderBy(col("src_id"), col("tgt_id"))
  }

  /** sp17: the spatial runtime filter — supplier boxes (the SMALL
    * source) joined to part boxes through the tile-bloom-pruned
    * candidate path ([[SpatialJoin.relateBloomPruned]]): the source's
    * occupied θ-tile keys become a bloom that prunes the big side's
    * exploded tile rows BEFORE their exchange. Pair set identical to
    * the plain path (false positives die in the tile equi-join), so
    * the oracle is the plain rectangle-intersects SQL; the exchange
    * cut is asserted from SQL metrics in SpatialJoinSpec. */
  def sp17BloomPrunedJoin(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.relateBloomPruned(supplierBoxes(s, dir), partBoxes(s, dir),
      "intersects")
      .orderBy(col("s_id"), col("t_id"))

  /** sp20: θ-TILE DENSITY — the spatial exchange's replication
    * primitive ([[graft.functions.TileCover]], the expression under
    * every tile-join explode, whose floor arithmetic the tile index
    * shares) gated DIRECTLY: explode each
    * part box's tile cover at a fixed θ=(10,10) and count geometries
    * per tile — the occupancy histogram a partitioner reads to choose
    * grids, and the first skew diagnostic run on a new corpus. The
    * oracle re-derives the cover with an independent range-unnest per
    * axis (integer floor-division — coordinates are non-negative
    * integers, so floor(x/10.0) ≡ x//10), so a boundary error in
    * either the expression's floor arithmetic or its codegen moves a
    * count. Plan: one explode + one key agg — the exact shape of the
    * join's own exchange. */
  def sp20TileDensity(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GeomFunctions.tile_cover
    partBoxes(s, dir)
      .select(explode(tile_cover(col("minx"), col("miny"),
        col("maxx"), col("maxy"), 10.0, 10.0)).as("tile"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_geoms"))
      .select(shiftright(col("tile"), 32).as("tx"),
        col("tile").bitwiseAND(lit(0xFFFFFFFFL)).as("ty"),
        col("n_geoms"))
      .orderBy(col("tx"), col("ty"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sp20_tile_density"  -> (sp20TileDensity _),
    "sp14_zorder"        -> (sp14Zorder _),
    "sp15_knn_join"      -> (sp15KnnJoin _),
    "sp16_distance_join" -> (sp16DistanceJoin _),
    "sp17_bloom_pruned_join" -> (sp17BloomPrunedJoin _),
    "sp1_point_in_box"   -> (sp1PointInBox _),
    "sp2_box_intersects" -> (sp2BoxIntersects _),
    "sp3_relation_counts" -> (sp3RelationCounts _),
    "sp4_de9im_pairs"    -> (sp4De9imPairs _),
    "sp5_temporal_join"  -> (sp5TemporalJoin _),
    "sp6_triangle_box"   -> (sp6TriangleBoxIntersects _),
    "sp7_mixed_relation_counts" -> (sp7MixedRelationCounts _),
    "sp8_line_box_de9im" -> (sp8LineBoxDe9im _),
    "sp9_segmented_triangle" -> (sp9SegmentedTriangle _),
    "sp10_segmented_im"  -> (sp10SegmentedIm _),
    "sp11_finegrained_im" -> (sp11FineGrainedIm _),
    "sp12_balanced_im" -> (sp12BalancedIm _),
    "sp13_typed_giant" -> (sp13Intersects _),
    "sp18_theta_max" -> (sp18ThetaMax _),
    "sp19_overlay_area" -> (sp19OverlayArea _)
  )

  // Rectangle topology in SQL:
  //  intersects (incl. touch): ranges overlap inclusively on both axes
  //  contains: closed containment (positive-area operands make the
  //            interior condition automatic)
  //  touches: inclusive intersection + at least one degenerate axis
  //  overlaps: strict interior overlap on both axes, neither contains
  private val sqlIntersects =
    "s.xmin <= t.xmax AND s.xmax >= t.xmin AND s.ymin <= t.ymax AND s.ymax >= t.ymin"
  private val sqlContains =
    "s.xmin <= t.xmin AND s.ymin <= t.ymin AND s.xmax >= t.xmax AND s.ymax >= t.ymax"
  private val sqlWithin =
    "t.xmin <= s.xmin AND t.ymin <= s.ymin AND t.xmax >= s.xmax AND t.ymax >= s.ymax"
  private val sqlEquals =
    "s.xmin = t.xmin AND s.ymin = t.ymin AND s.xmax = t.xmax AND s.ymax = t.ymax"
  private val sqlTouches =
    s"($sqlIntersects) AND (s.xmax = t.xmin OR t.xmax = s.xmin OR s.ymax = t.ymin OR t.ymax = s.ymin)"
  private val sqlStrictOverlap =
    "s.xmin < t.xmax AND s.xmax > t.xmin AND s.ymin < t.ymax AND s.ymax > t.ymin"
  private val sqlOverlaps =
    s"($sqlStrictOverlap) AND NOT ($sqlContains) AND NOT ($sqlWithin)"

  private val oraclesBase: Map[String, String] = Map(
    // sp20: independent per-axis range unnest over the SHARED box CTE
    // (geomCtes.sb — one derivation, no twin-drift surface); integer
    // floor division ≡ the expression's floor(c/θ) on this
    // non-negative integer corpus
    "sp20_tile_density" ->
      s"""$geomCtes,
         tcx AS (
           SELECT id, ymin, ymax,
             unnest(range(xmin // 10, xmax // 10 + 1)) AS tx
           FROM sb),
         txy AS (
           SELECT id, tx, unnest(range(ymin // 10, ymax // 10 + 1)) AS ty
           FROM tcx)
         SELECT tx, ty, count(*) AS n_geoms
         FROM txy GROUP BY 1, 2 ORDER BY 1, 2""",
    "sp15_knn_join" ->
      """WITH src AS (
           SELECT c_custkey AS src_id,
             CAST((c_custkey * 17) % 1000 AS DOUBLE) AS sx,
             CAST((c_custkey * 23) % 1000 AS DOUBLE) AS sy
           FROM customer),
         tgt AS (
           SELECT s_suppkey AS tgt_id,
             CAST((s_suppkey * 37) % 980 AS DOUBLE)
               + (1 + s_suppkey % 23) / 2.0 AS tx,
             CAST((s_suppkey * 41) % 980 AS DOUBLE)
               + (1 + (s_suppkey * 7) % 13) / 2.0 AS ty
           FROM supplier),
         d AS (
           SELECT src_id, tgt_id,
             (sx - tx) * (sx - tx) + (sy - ty) * (sy - ty) AS d2,
             row_number() OVER (PARTITION BY src_id
               ORDER BY (sx - tx) * (sx - tx) + (sy - ty) * (sy - ty),
                 tgt_id) AS rank
           FROM src, tgt)
         SELECT src_id, tgt_id, CAST(rank AS INT) AS rank, d2
         FROM d WHERE rank <= 3 ORDER BY src_id, rank""",
    "sp16_distance_join" ->
      """WITH src AS (
           SELECT c_custkey AS src_id,
             CAST((c_custkey * 17) % 1000 AS DOUBLE) AS sx,
             CAST((c_custkey * 23) % 1000 AS DOUBLE) AS sy
           FROM customer),
         tgt AS (
           SELECT s_suppkey AS tgt_id,
             CAST((s_suppkey * 37) % 980 AS DOUBLE)
               + (1 + s_suppkey % 23) / 2.0 AS tx,
             CAST((s_suppkey * 41) % 980 AS DOUBLE)
               + (1 + (s_suppkey * 7) % 13) / 2.0 AS ty
           FROM supplier)
         SELECT src_id, tgt_id,
           (sx - tx) * (sx - tx) + (sy - ty) * (sy - ty) AS d2
         FROM src, tgt
         WHERE (sx - tx) * (sx - tx) + (sy - ty) * (sy - ty) <= 2500.0
         ORDER BY src_id, tgt_id""",
    "sp14_zorder" -> {
      import graft.functions.ZCurve
      val lo = ZCurve.zValueOf(512, 256, 10)
      val hi = ZCurve.zValueOf(512 + 63, 256 + 63, 10)
      s"""WITH pts AS (
           SELECT p_partkey AS id, (p_partkey * 13) % 980 AS x,
                  (p_partkey * 29) % 980 AS y
           FROM part),
         z AS (SELECT id, x, y,
                 ${ZCurve.zValueSql("x", "y", 10)} AS zval FROM pts)
         SELECT id, x, y, zval FROM z
         WHERE zval BETWEEN $lo AND $hi
         ORDER BY zval, id"""
    },
    "sp1_point_in_box" ->
      s"""$geomCtes
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id
         FROM sb s, pts t
         WHERE t.x > s.xmin AND t.x < s.xmax AND t.y > s.ymin AND t.y < s.ymax
         ORDER BY 1, 2""",
    "sp2_box_intersects" ->
      s"""$geomCtes
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id
         FROM sb s, tb t WHERE $sqlIntersects
         ORDER BY 1, 2""",
    // sp17 = sp2 with the sides swapped (supplier boxes are the small
    // SOURCE building the tile bloom; part boxes the pruned target)
    "sp17_bloom_pruned_join" ->
      s"""$geomCtes
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id
         FROM tb s, sb t WHERE $sqlIntersects
         ORDER BY 1, 2""",
    "sp3_relation_counts" ->
      s"""$geomCtes
         SELECT count(*) AS verifications,
           CAST(sum(CASE WHEN $sqlIntersects THEN 1 ELSE 0 END) AS BIGINT) AS intersects,
           CAST(sum(CASE WHEN $sqlContains THEN 1 ELSE 0 END) AS BIGINT) AS contains,
           CAST(sum(CASE WHEN $sqlWithin THEN 1 ELSE 0 END) AS BIGINT) AS within,
           CAST(sum(CASE WHEN $sqlContains THEN 1 ELSE 0 END) AS BIGINT) AS covers,
           CAST(sum(CASE WHEN $sqlWithin THEN 1 ELSE 0 END) AS BIGINT) AS coveredby,
           CAST(0 AS BIGINT) AS crosses,
           CAST(sum(CASE WHEN $sqlOverlaps THEN 1 ELSE 0 END) AS BIGINT) AS overlaps,
           CAST(sum(CASE WHEN $sqlTouches THEN 1 ELSE 0 END) AS BIGINT) AS touches,
           CAST(sum(CASE WHEN $sqlEquals THEN 1 ELSE 0 END) AS BIGINT) AS equals
         FROM sb s, tb t WHERE $sqlIntersects""",
    "sp5_temporal_join" ->
      s"""$geomCtes
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id
         FROM sb s, tb t
         WHERE $sqlIntersects
           AND abs(date_diff('day', DATE '1995-06-01' + CAST(t.id % 10 AS INT),
                             DATE '1995-06-01' + CAST(s.id % 10 AS INT))) < 2
         ORDER BY 1, 2""",
    // sp19 twin: intersecting pairs (inclusive ranges), intersection
    // area as the per-axis overlap product — integer arithmetic start
    // to finish, summed as BIGINT (touch-only pairs contribute 0)
    "sp19_overlay_area" ->
      s"""$geomCtes
         SELECT CAST(t.id AS VARCHAR) AS supp_id, count(*) AS n_pairs,
           CAST(sum((least(s.xmax, t.xmax) - greatest(s.xmin, t.xmin)) *
                    (least(s.ymax, t.ymax) - greatest(s.ymin, t.ymin)))
             AS BIGINT) AS overlap_area
         FROM sb s, tb t WHERE $sqlIntersects
         GROUP BY 1 ORDER BY 1""",
    "sp4_de9im_pairs" ->
      s"""$geomCtes
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id,
           ($sqlIntersects) AS intersects,
           ($sqlContains) AS contains,
           ($sqlWithin) AS within,
           ($sqlEquals) AS equals,
           ($sqlTouches) AS touches,
           ($sqlOverlaps) AS overlaps
         FROM sb s, tb t WHERE $sqlIntersects
         ORDER BY 1, 2""",
    // Horizontal-segment vs box DE-9IM in interval arithmetic:
    //  interiors meet  <=> y strictly inside AND open x-ranges overlap
    //  crosses (1,2)   <=> interiors meet AND part of the open segment
    //                      lies outside the closed box
    //  touches         <=> closed sets meet, interiors do not
    //  within          <=> coveredby AND interiors meet (a segment on
    //                      the boundary is covered but not within)
    "sp8_line_box_de9im" ->
      s"""$geomCtes,
         seg AS (
           SELECT o_orderkey AS id,
                  (o_orderkey*23)%970 AS x0, (o_orderkey*41)%990 AS y,
                  (o_orderkey*23)%970 + 3 + o_orderkey%25 AS x1
           FROM orders)
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id,
           TRUE AS intersects,
           (s.y > t.ymin AND s.y < t.ymax AND s.x1 > t.xmin AND s.x0 < t.xmax
             AND (s.x0 < t.xmin OR s.x1 > t.xmax)) AS crosses,
           (NOT (s.y > t.ymin AND s.y < t.ymax
                 AND s.x1 > t.xmin AND s.x0 < t.xmax)) AS touches,
           (s.x0 >= t.xmin AND s.x1 <= t.xmax
             AND s.y > t.ymin AND s.y < t.ymax) AS within,
           (s.x0 >= t.xmin AND s.x1 <= t.xmax
             AND s.y >= t.ymin AND s.y <= t.ymax) AS coveredby
         FROM seg s, tb t
         WHERE s.x1 >= t.xmin AND s.x0 <= t.xmax
           AND s.y >= t.ymin AND s.y <= t.ymax
         ORDER BY 1, 2""",
    "sp6_triangle_box" ->
      s"""$geomCtes, $triCte
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id
         FROM trie s, tb t WHERE ${TriangleSql.intersects}
         ORDER BY 1, 2""",
    // identical semantics to sp6, operands swapped
    "sp9_segmented_triangle" ->
      s"""$geomCtes, $triCte
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id
         FROM trie s, tb t WHERE ${TriangleSql.intersects}
         ORDER BY 1, 2""",
    "sp11_finegrained_im" ->
      s"""$geomCtes, $triCte
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id,
           (${TriangleSql.contains}) AS contains,
           (${TriangleSql.within}) AS within,
           (${TriangleSql.touches}) AS touches,
           (${TriangleSql.overlaps}) AS overlaps
         FROM trie s, tb t WHERE ${TriangleSql.intersects}
         ORDER BY 1, 2""",
    "sp13_typed_giant" ->
      s"""$geomCtes, $triCte
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id,
           (${TriangleSql.intersects}) AS intersects
         FROM trie s, tb t
         WHERE s.xmin <= t.xmax AND s.xmax >= t.xmin
           AND s.ymin <= t.ymax AND s.ymax >= t.ymin
         ORDER BY 1, 2""",
    "sp12_balanced_im" ->
      s"""$geomCtes, $triCte
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id,
           (${TriangleSql.intersects}) AS intersects,
           (${TriangleSql.contains}) AS contains,
           (${TriangleSql.within}) AS within,
           (${TriangleSql.touches}) AS touches,
           (${TriangleSql.overlaps}) AS overlaps
         FROM trie s, tb t
         WHERE s.xmin <= t.xmax AND s.xmax >= t.xmin
           AND s.ymin <= t.ymax AND s.ymax >= t.ymin
         ORDER BY 1, 2""",
    "sp10_segmented_im" ->
      s"""$geomCtes, $triCte
         SELECT CAST(s.id AS VARCHAR) AS s_id, CAST(t.id AS VARCHAR) AS t_id,
           (${TriangleSql.intersects}) AS intersects,
           (${TriangleSql.contains}) AS contains,
           (${TriangleSql.within}) AS within,
           (${TriangleSql.touches}) AS touches,
           (${TriangleSql.overlaps}) AS overlaps
         FROM trie s, tb t
         WHERE s.xmin <= t.xmax AND s.xmax >= t.xmin
           AND s.ymin <= t.ymax AND s.ymax >= t.ymin
         ORDER BY 1, 2""",
    // Mixed corpus: verifications = MBR-intersecting pairs (for the
    // box-box half the MBR IS the geometry, so the filter is the
    // intersects predicate; for the triangle half it is the envelope
    // test). equals/crosses are constant FALSE for triangle-box pairs
    // (a triangle can never equal a rectangle; areal-areal never
    // crosses), and covers/coveredby coincide with contains/within for
    // positive-area operands — same conventions as sp3.
    "sp7_mixed_relation_counts" ->
      s"""$geomCtes, $triCte,
         mixed_pairs AS (
           SELECT ($sqlIntersects) AS i, ($sqlContains) AS c,
                  ($sqlWithin) AS w, ($sqlOverlaps) AS o,
                  ($sqlTouches) AS tch, ($sqlEquals) AS e
           FROM sb s, tb t
           WHERE s.xmin <= t.xmax AND s.xmax >= t.xmin
             AND s.ymin <= t.ymax AND s.ymax >= t.ymin
           UNION ALL
           SELECT (${TriangleSql.intersects}), (${TriangleSql.contains}),
                  (${TriangleSql.within}), (${TriangleSql.overlaps}),
                  (${TriangleSql.touches}), FALSE
           FROM trie s, tb t
           WHERE s.xmin <= t.xmax AND s.xmax >= t.xmin
             AND s.ymin <= t.ymax AND s.ymax >= t.ymin)
         SELECT count(*) AS verifications,
           CAST(sum(CASE WHEN i THEN 1 ELSE 0 END) AS BIGINT) AS intersects,
           CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS contains,
           CAST(sum(CASE WHEN w THEN 1 ELSE 0 END) AS BIGINT) AS within,
           CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS covers,
           CAST(sum(CASE WHEN w THEN 1 ELSE 0 END) AS BIGINT) AS coveredby,
           CAST(0 AS BIGINT) AS crosses,
           CAST(sum(CASE WHEN o THEN 1 ELSE 0 END) AS BIGINT) AS overlaps,
           CAST(sum(CASE WHEN tch THEN 1 ELSE 0 END) AS BIGINT) AS touches,
           CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS equals
         FROM mixed_pairs"""
  )

  /** sp18 shares sp3's oracle verbatim: the relation-count output is
    * θ-invariant, so the SAME SQL gates both tiling statistics. */
  val oracles: Map[String, String] =
    oraclesBase + ("sp18_theta_max" -> oraclesBase("sp3_relation_counts"))
}
