package graft.geometry

import org.locationtech.jts.geom.{Envelope, Geometry, GeometryFactory}
import graft.functions.Jts

/** Geometry decomposition — the capability of DS-JedAI's decompose
  * package's D3 `EnvelopeRefiner`, re-implemented on JTS set
  * operations instead of the reference's hand-rolled blade/edge-walk
  * math: a piece is the JTS intersection of the geometry with a clip
  * rectangle. This trades a little CPU for far less code and inherits
  * JTS's robustness fixes; the envelope invariants are property-tested.
  * D2 `GridDecomposer` (per-θ-tile segments) is not kept: it served
  * only segment-wise verification, which exact whole-geometry relate
  * replaced (clipping at grid lines lost point touches). D1
  * `RecursiveDecomposer` and D5 collection flattening are not kept
  * either: no engine path split or flattened a geometry.
  */
object Decompose {

  private def f: GeometryFactory = Jts.factory

  private def clipRect(minx: Double, miny: Double, maxx: Double, maxy: Double): Geometry =
    f.toGeometry(new Envelope(minx, maxx, miny, maxy))

  private def clip(g: Geometry, minx: Double, miny: Double,
                   maxx: Double, maxy: Double): Option[Geometry] = {
    val c = g.intersection(clipRect(minx, miny, maxx, maxy))
    if (c.isEmpty) return None
    // Keep only components of g's own dimension. A lower-dimensional
    // piece (edge/corner sliver) lies on the clip border and is covered
    // by the neighbouring piece's CLOSED intersection, so dropping it
    // loses nothing — while a mixed GeometryCollection would poison
    // downstream JTS operations (they reject GC arguments).
    val dim = g.getDimension
    if (c.getGeometryType != "GeometryCollection") {
      if (c.getDimension == dim) Some(c) else None
    } else {
      val parts = (0 until c.getNumGeometries).map(c.getGeometryN)
        .filter(_.getDimension == dim)
      if (parts.isEmpty) None
      else if (parts.size == 1) Some(parts.head)
      else Some(f.buildGeometry(java.util.Arrays.asList(parts: _*)))
    }
  }

  /** D3: fine-grained envelopes — per vertical θ-slab envelope of the
    * clipped geometry (no geometry splitting survives; only tighter
    * boxes). `maxEnvs` caps the list; above it the plain MBR is used,
    * bounding both memory and filter cost. */
  def refinedEnvelopes(g: Geometry, thetaX: Double, maxEnvs: Int): Seq[Envelope] = {
    val env = g.getEnvelopeInternal
    val x0 = math.floor(env.getMinX / thetaX).toLong
    val x1 = math.floor(env.getMaxX / thetaX).toLong
    val n = (x1 - x0 + 1).toInt
    if (n <= 1 || n > maxEnvs) return Seq(env)
    (x0 to x1).flatMap { tx =>
      clip(g, tx * thetaX, env.getMinY, (tx + 1) * thetaX, env.getMaxY)
        .map(_.getEnvelopeInternal)
    }
  }
}
