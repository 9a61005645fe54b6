package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, BinaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Geometry, GeometryFactory, GeometryCollection, IntersectionMatrix, Polygon, Point, LineString, MultiPolygon, MultiPoint, MultiLineString}
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader}

/** JTS plumbing shared by the geometry expressions.
  *
  * JTS readers/writers are not thread-safe; Spark evaluates expressions
  * on many task threads inside one executor JVM, so each thread gets its
  * own instances. (Reference behavior being re-expressed: per-partition
  * WKTReader in DS-JedAI `utils/readers/Reader.scala:85-112`.)
  */
object Jts {
  val factory = new GeometryFactory()
  private val wktR = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))
  private val wkbR = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wkbW = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter())
  def parseWkt(s: String): Geometry = wktR.get().read(s)
  def fromWkb(b: Array[Byte]): Geometry = wkbR.get().read(b)
  def toWkb(g: Geometry): Array[Byte] = wkbW.get().write(g)

  /** Encode a tile coordinate pair into one long (cheap shuffle key). */
  @inline def encodeTile(tx: Long, ty: Long): Long = (tx << 32) | (ty & 0xFFFFFFFFL)
}

/** Per-thread LRU caches for verification: WKB → parsed Geometry,
  * WKB → PreparedGeometry and WKB → prepared RelateNG. After the tile
  * join, a hot build-side geometry participates in many pairs within a
  * partition; caching by WKB content removes the repeated parse and lets
  * JTS prepared operations reuse their internal index — the
  * declarative-path equivalent of the reference's per-partition prepared
  * entities (`model/entities/PreparedEntity.scala`).
  *
  * The caches are keyed by [[GeomCache.Key]], whose hash reads a bounded
  * sample of the WKB and whose equality compares every byte. Measured on
  * a 4-core host (JDK 17, JTS 1.20) for one pair against a 128,029-byte
  * coastline WKB: a full-content hash (`ByteBuffer.hashCode`) costs
  * ~170 µs per lookup, `Arrays.equals` of the same bytes ~7 µs, and the
  * prepared RelateNG `evaluate` the lookup serves ~35 µs.
  */
object GeomCache {
  import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
  import org.locationtech.jts.operation.relateng.RelateNG
  private val MAX = 8192
  /** WKB up to this length is hashed in full. */
  private val FullHashMax = 512
  /** Longer WKB hashes its length, its first `HeadBytes` bytes (byte
    * order, type, counts, first coordinates) and `Words` evenly spaced
    * 8-byte words of the rest, the last ending at the array's end. Whole
    * words, because the low bytes of integer-valued doubles are mostly
    * zero. */
  private val HeadBytes = 64
  private val Words = 64

  /** Sampled content hash of a WKB array; the full
    * `ByteBuffer.hashCode` polynomial when it is at most `FullHashMax`
    * bytes. */
  private[functions] def hash(wkb: Array[Byte]): Int = {
    val n = wkb.length
    var h = 1
    if (n <= FullHashMax) {
      var i = n - 1
      while (i >= 0) { h = 31 * h + wkb(i); i -= 1 }
    } else {
      h = n
      var i = 0
      while (i < HeadBytes) { h = 31 * h + wkb(i); i += 1 }
      val span = (n - HeadBytes - 8).toLong
      var w = 0
      while (w < Words) {
        val o = HeadBytes + (span * w / (Words - 1)).toInt
        i = o
        while (i < o + 8) { h = 31 * h + wkb(i); i += 1 }
        w += 1
      }
    }
    h
  }

  /** Cache key of one WKB operand: the sampled hash is computed once,
    * equality compares every byte, so a hit still needs identical
    * content. `Comparable`, so a `HashMap` bin of colliding keys
    * treeifies and stays O(log n). */
  private[graft] final class Key private[functions] (val wkb: Array[Byte], override val hashCode: Int)
      extends Comparable[Key] {
    override def equals(o: Any): Boolean = o match {
      case k: Key => hashCode == k.hashCode && java.util.Arrays.equals(wkb, k.wkb)
      case _ => false
    }
    override def compareTo(k: Key): Int = java.util.Arrays.compare(wkb, k.wkb)
  }
  private[graft] object Key {
    def apply(wkb: Array[Byte]): Key = new Key(wkb, hash(wkb))
  }

  private final class Lru[V](max: Int)
      extends java.util.LinkedHashMap[Key, V](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, V]): Boolean = size() > max
  }
  private val geoms = ThreadLocal.withInitial[Lru[Geometry]](() => new Lru(MAX))
  private val preps = ThreadLocal.withInitial[Lru[PreparedGeometry]](() => new Lru(MAX))
  def geometry(wkb: Array[Byte]): Geometry = geometry(Key(wkb))
  private[functions] def geometry(k: Key): Geometry = {
    val c = geoms.get()
    var g = c.get(k)
    if (g == null) { g = Jts.fromWkb(k.wkb); c.put(k, g) }
    g
  }
  def prepared(wkb: Array[Byte]): PreparedGeometry = {
    val k = Key(wkb)
    val c = preps.get()
    var p = c.get(k)
    if (p == null) { p = PreparedGeometryFactory.prepare(geometry(k)); c.put(k, p) }
    p
  }
  private val relates = ThreadLocal.withInitial[Lru[RelateNG]](
    () => new Lru(256)) // edge indexes of large operands are bulky; smaller budget
  /** Full DE-9IM of (g1, g2), the geometries keyed by (k1, k2), through
    * a prepared JTS RelateNG: the operand with more points is prepared
    * once per thread (keyed by its WKB) and its edge index reused by
    * every later pair it joins; the matrix is transposed back when that
    * operand is the right-hand one. */
  private[graft] def relatePrepared(k1: Key, g1: Geometry,
                                    k2: Key, g2: Geometry): IntersectionMatrix = {
    val swap = g2.getNumPoints > g1.getNumPoints
    val (k, g, other) = if (swap) (k2, g2, g1) else (k1, g1, g2)
    val c = relates.get()
    var p = c.get(k)
    if (p == null) { p = RelateNG.prepare(g); c.put(k, p) }
    val im = p.evaluate(other)
    if (swap) im.transpose() else im
  }
}

/** Parse WKT to WKB bytes. Returns null (→ row filterable) for
  * unparseable, empty, or GeometryCollection input — matching the
  * reference's load-time validity filter (DS-JedAI
  * `utils/readers/Reader.scala:59-61`: invalid/empty/collection rows
  * are dropped before linking).
  */
case class StGeomFromWkt(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    try {
      val g = Jts.parseWkt(v.asInstanceOf[UTF8String].toString)
      if (g == null || g.isEmpty || g.getClass == classOf[GeometryCollection] || !g.isValid) null
      else Jts.toWkb(g)
    } catch { case _: Exception => null }
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Validate/normalize WKB bytes (the parquet-native geometry
  * encoding): parse, apply the SAME load-time validity filter as
  * [[StGeomFromWkt]] (null for unparseable / empty /
  * GeometryCollection / invalid), and re-emit canonical WKB — so
  * downstream expressions never meet a malformed blob and byte-level
  * encoding variants (endianness, 2.5D flags) normalize to the
  * engine's canonical form. */
case class StGeomFromWkb(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    try {
      val g = Jts.fromWkb(v.asInstanceOf[Array[Byte]])
      if (g == null || g.isEmpty || g.getClass == classOf[GeometryCollection] || !g.isValid) null
      else Jts.toWkb(g)
    } catch { case _: Exception => null }
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Envelope of a WKB geometry as struct<minx,miny,maxx,maxy>. */
case class StEnvelope(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StEnvelope.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val env = Jts.fromWkb(v.asInstanceOf[Array[Byte]]).getEnvelopeInternal
    new GenericInternalRow(Array[Any](env.getMinX, env.getMinY, env.getMaxX, env.getMaxY))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
object StEnvelope {
  val schema: StructType = StructType(Seq(
    StructField("minx", DoubleType, nullable = false),
    StructField("miny", DoubleType, nullable = false),
    StructField("maxx", DoubleType, nullable = false),
    StructField("maxy", DoubleType, nullable = false)))
}

/** Number of coordinates (verification-cost proxy; DS-JedAI weights
  * use it as ISP, `model/weightedPairs/WeightedPairFactory.scala:112`). */
case class StNumPoints(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    Jts.fromWkb(v.asInstanceOf[Array[Byte]]).getNumPoints
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StArea(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    Jts.fromWkb(v.asInstanceOf[Array[Byte]]).getArea
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Area of the JTS set-theoretic intersection — the overlay MEASURE
  * step (how much do they overlap) the boolean DE-9IM family cannot
  * express. General polygon/line/point operands: lower-dimensional
  * intersections (touch line/point) have area 0. On integer-coordinate
  * operands the shoelace sum is exact double arithmetic (products and
  * partial sums stay far below 2^53), which is what lets the sp19 gate
  * hash-check this path against a closed-form SQL oracle. */
case class StIntersectionArea(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = GeomCache.geometry(l.asInstanceOf[Array[Byte]])
    val b = GeomCache.geometry(r.asInstanceOf[Array[Byte]])
    a.intersection(b).getArea
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** Full DE-9IM verification: one IntersectionMatrix per pair from
  * [[StIm.matrix]] (`minPoints` is its prepared-branch cutoff), all ten
  * topological booleans extracted from it (mirrors DS-JedAI
  * `model/IM.scala:6-39`). Emitting them all at once means downstream
  * relation-count aggregation is plain sum(when(..)).
  */
case class StIm(left: Expression, right: Expression, minPoints: Int = StIm.MinPoints)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StIm.schema
  override def nullSafeEval(l: Any, r: Any): Any =
    StIm.row(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]], minPoints)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}
object StIm {
  /** Point-count cutoff of the prepared branch (sum over both operands). */
  val MinPoints = 64

  /** The one DE-9IM kernel: rectangle pairs take the analytic interval
    * IM (~ns); polygonal pairs of at least `minPoints` points relate
    * through the per-thread prepared RelateNG of the larger operand
    * ([[GeomCache.relatePrepared]]); everything else is plain JTS
    * `relate`. All three return JTS `relate`'s matrix. */
  def matrix(wkb1: Array[Byte], wkb2: Array[Byte], minPoints: Int): IntersectionMatrix = {
    val k1 = GeomCache.Key(wkb1); val k2 = GeomCache.Key(wkb2)
    matrix(k1, GeomCache.geometry(k1), k2, GeomCache.geometry(k2), minPoints)
  }

  /** Each operand is keyed once per pair; the key serves both its
    * geometry lookup and the prepared-RelateNG lookup. */
  private def matrix(k1: GeomCache.Key, g1: Geometry, k2: GeomCache.Key, g2: Geometry,
                     minPoints: Int): IntersectionMatrix =
    if (g1.isRectangle && g2.isRectangle) {
      val e1 = g1.getEnvelopeInternal; val e2 = g2.getEnvelopeInternal
      new IntersectionMatrix(
        graft.geometry.RectIM.matrix(
          e1.getMinX, e1.getMinY, e1.getMaxX, e1.getMaxY,
          e2.getMinX, e2.getMinY, e2.getMaxX, e2.getMaxY))
    } else if (g1.getDimension == 2 && g2.getDimension == 2 &&
               g1.getNumPoints + g2.getNumPoints >= minPoints)
      GeomCache.relatePrepared(k1, g1, k2, g2)
    else g1.relate(g2)

  /** [[matrix]] as a [[schema]] row. */
  def row(wkb1: Array[Byte], wkb2: Array[Byte], minPoints: Int): InternalRow = {
    val k1 = GeomCache.Key(wkb1); val k2 = GeomCache.Key(wkb2)
    val g1 = GeomCache.geometry(k1); val g2 = GeomCache.geometry(k2)
    val im = matrix(k1, g1, k2, g2, minPoints)
    val d1 = g1.getDimension; val d2 = g2.getDimension
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(im.toString),
      !im.isDisjoint,
      im.isContains, im.isWithin, im.isCovers, im.isCoveredBy,
      im.isCrosses(d1, d2), im.isOverlaps(d1, d2), im.isTouches(d1, d2),
      im.isEquals(d1, d2)))
  }

  val schema: StructType = StructType(Seq(
    StructField("de9im", StringType, nullable = false),
    StructField("intersects", BooleanType, nullable = false),
    StructField("contains", BooleanType, nullable = false),
    StructField("within", BooleanType, nullable = false),
    StructField("covers", BooleanType, nullable = false),
    StructField("coveredby", BooleanType, nullable = false),
    StructField("crosses", BooleanType, nullable = false),
    StructField("overlaps", BooleanType, nullable = false),
    StructField("touches", BooleanType, nullable = false),
    StructField("equals", BooleanType, nullable = false)))
}

/** Single-relation verification (DS-JedAI `linkers/GIAnt.scala:19-25`).
  * `relation` is bound at plan time so the JTS dispatch is a stable
  * branch, not per-row string matching.
  */
case class StPredicate(left: Expression, right: Expression, relation: String)
    extends BinaryExpression with CodegenFallback {
  import graft.model.Relation
  private val rel = Relation.of(relation)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val p1 = GeomCache.prepared(l.asInstanceOf[Array[Byte]])
    val g2 = GeomCache.geometry(r.asInstanceOf[Array[Byte]])
    rel.evalPrepared(p1, g2)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r, relation)
}

/** Tile ids (encoded long) covered by an MBR on the θ grid.
  * children: minx, miny, maxx, maxy (+ literal θx, θy).
  * Tile index of a coordinate is floor(c/θ) — the refinement filter in
  * the join recomputes the same floor on the reference point, making
  * replicated pairs emit exactly once (DS-JedAI
  * `linkers/LinkerT.scala:30-41`).
  */
case class TileCover(children: Seq[Expression]) extends Expression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) return null
    val Seq(minx, miny, maxx, maxy, tx, ty) = vs.map(_.asInstanceOf[Double])
    TileCover.compute(minx, miny, maxx, maxy, tx, ty)
  }
  // Codegen as a static call: tile_cover sits under the explode of
  // EVERY tile join — the CodegenFallback boxed-row path would break
  // the hot scan stage's whole-stage codegen.
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode):
      org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val gens = children.map(_.genCode(ctx))
    val evalChildren = gens.map(_.code).reduce(_ + _)
    val nullCheck =
      if (nullable) gens.map(g => s"${g.isNull}").mkString(" || ") else "false"
    val args = gens.map(g => s"${g.value}").mkString(", ")
    ev.copy(code = code"""
      $evalChildren
      boolean ${ev.isNull} = $nullCheck;
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.TileCover.compute($args);
      }""")
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cs)
}
object TileCover {
  /** Per-geometry θ-tile cap — past this the tile join's replication
    * factor is the bottleneck, not a tractable plan. */
  val MaxTiles: Long = 4L * 1000 * 1000

  /** The θ-tile index of coordinate `c`: floor(c/θ). */
  @inline def index(c: Double, theta: Double): Long = math.floor(c / theta).toLong

  /** The tile count of the cover x0..x1 × y0..y1 of the MBR
    * [minx, miny, maxx, maxy]; throws past [[MaxTiles]]. Every tile
    * cover goes through here: the explode below and the broadcast tile
    * index of `SpatialJoin.candidatePairs`. */
  def count(minx: Double, miny: Double, maxx: Double, maxy: Double,
            x0: Long, y0: Long, x1: Long, y1: Long): Int = {
    // Guard the Long product BEFORE the Int cast: a geometry spanning a
    // huge number of θ-tiles (tiny θ, bad coordinates, or one
    // continent-sized MBR) would otherwise overflow into a negative
    // array size or silently explode the row count by millions.
    val nL = (x1 - x0 + 1) * (y1 - y0 + 1)
    if (nL > MaxTiles)
      throw new IllegalArgumentException(
        s"tile_cover: MBR [$minx,$miny,$maxx,$maxy] spans $nL θ-tiles " +
        s"(cap $MaxTiles). Use a coarser θ (AVG tiling over a " +
        "source with comparable extents) or pre-split the geometry.")
    nL.toInt
  }

  /** Shared loop for interpreted and generated code. */
  def compute(minx: Double, miny: Double, maxx: Double, maxy: Double,
              tx: Double, ty: Double): GenericArrayData = {
    val x0 = index(minx, tx); val x1 = index(maxx, tx)
    val y0 = index(miny, ty); val y1 = index(maxy, ty)
    val n = count(minx, miny, maxx, maxy, x0, y0, x1, y1)
    val out = new Array[Long](n)
    var i = 0; var x = x0
    while (x <= x1) { var y = y0; while (y <= y1) { out(i) = Jts.encodeTile(x, y); i += 1; y += 1 }; x += 1 }
    new GenericArrayData(out)
  }
}

/** Fine-grained envelopes (DS-JedAI FineGrainedEnvelopes
  * approximation, `model/approximations/FineGrainedEnvelopes.scala`):
  * per θ-slab envelopes of the geometry, a tighter candidate filter
  * than the single MBR. children: wkb, θx (lit), maxEnvs (lit). */
case class StFineEnvelopes(children: Seq[Expression]) extends Expression with CodegenFallback {
  override def dataType: DataType = ArrayType(StEnvelope.schema, containsNull = false)
  override def nullable: Boolean = children.head.nullable
  override def eval(input: InternalRow): Any = {
    val wkb = children(0).eval(input)
    if (wkb == null) return null
    val thetaX = children(1).eval(input).asInstanceOf[Double]
    val maxEnvs = children(2).eval(input).asInstanceOf[Int]
    val g = Jts.fromWkb(wkb.asInstanceOf[Array[Byte]])
    val envs = graft.geometry.Decompose.refinedEnvelopes(g, thetaX, maxEnvs)
    new GenericArrayData(envs.map(e => new GenericInternalRow(
      Array[Any](e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))).toArray[Any])
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cs)
}

/** Coordinate precision reduction (DS-JedAI D6,
  * `utils/geometryUtils/GeometryUtils.scala:18-24`): snap coordinates
  * to a fixed decimal grid via JTS's precision reducer — the loader
  * step that makes noisy real-world coordinates hashable/joinable.
  * children: wkb, scale (literal; 1e11 mirrors the reference). */
case class StReducePrecision(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = left.nullable
  override def nullSafeEval(wkb: Any, scale: Any): Any = {
    val g = Jts.fromWkb(wkb.asInstanceOf[Array[Byte]])
    val pm = new org.locationtech.jts.geom.PrecisionModel(scale.asInstanceOf[Double])
    val reduced = org.locationtech.jts.precision.GeometryPrecisionReducer.reduce(g, pm)
    if (reduced.isEmpty) null else Jts.toWkb(reduced)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** Optimizer barrier: a semantic no-op marked non-deterministic so
  * Catalyst neither collapses the projection that computes `child` nor
  * pushes filters through it. Used around the WKT parse in the entity
  * loader — without it, inferred not-null constraints from downstream
  * joins get pushed into the scan filter and inline the full parse
  * expression once per referenced column (~9 redundant parses/row).
  *
  * Codegen PASSES THROUGH to the child (round 15; the built-in
  * TaggingExpression pattern): the barrier's job is optimizer-level
  * only, but its former CodegenFallback forced the ENTIRE wrapped
  * subtree into interpreted per-row eval — ta7's shingle pipeline
  * measured 26x slower that way (17 s vs 0.65 s at sf0.1 after the
  * leaf-only workaround), and the dd3/dd5/dd18 jaccard verifies, the
  * ta15 k-gram build and every barrier'd token split were paying the
  * same hidden tax. Wrapped subtrees that are themselves
  * CodegenFallback (JTS geometry exprs, higher-order functions)
  * generate their own fallback call exactly as before.
  */
case class ExprBarrier(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Column-API wrappers. */
object GeomFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column => mk, expression => ex}
  def st_geomfromwkt(wkt: Column): Column = mk(StGeomFromWkt(ex(wkt)))
  def st_geomfromwkb(wkb: Column): Column = mk(StGeomFromWkb(ex(wkb)))
  def barrier(c: Column): Column = mk(ExprBarrier(ex(c)))
  def st_envelope(geom: Column): Column = mk(StEnvelope(ex(geom)))
  def st_numpoints(geom: Column): Column = mk(StNumPoints(ex(geom)))
  def st_area(geom: Column): Column = mk(StArea(ex(geom)))
  def st_intersection_area(l: Column, r: Column): Column =
    mk(StIntersectionArea(ex(l), ex(r)))
  def st_im(l: Column, r: Column, minPoints: Int = StIm.MinPoints): Column =
    mk(StIm(ex(l), ex(r), minPoints))
  def st_predicate(l: Column, r: Column, relation: String): Column =
    mk(StPredicate(ex(l), ex(r), relation))
  def tile_cover(minx: Column, miny: Column, maxx: Column, maxy: Column,
                 thetaX: Double, thetaY: Double): Column =
    mk(TileCover(Seq(ex(minx), ex(miny), ex(maxx), ex(maxy),
      org.apache.spark.sql.catalyst.expressions.Literal(thetaX),
      org.apache.spark.sql.catalyst.expressions.Literal(thetaY))))
  def st_reduce_precision(geom: Column, scale: Double): Column =
    mk(StReducePrecision(ex(geom),
      org.apache.spark.sql.catalyst.expressions.Literal(scale)))
  def st_fine_envelopes(geom: Column, thetaX: Double, maxEnvs: Int): Column =
    mk(StFineEnvelopes(Seq(ex(geom),
      org.apache.spark.sql.catalyst.expressions.Literal(thetaX),
      org.apache.spark.sql.catalyst.expressions.Literal(maxEnvs))))
}
