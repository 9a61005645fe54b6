package graft.geometry

import org.locationtech.jts.geom.{Geometry, IntersectionMatrix}

/** DE-9IM over θ-grid segments for POLYGONAL operands — DS-JedAI's
  * segmented verification (J8,
  * `model/entities/segmented/DecomposedEntity.scala`). Only the
  * reference's early-exit accumulation lives here: the exact full
  * matrix of a heavy polygon pair comes from the larger operand's
  * prepared RelateNG instead ([[graft.functions.GeomCache.relatePrepared]]).
  */
object SegmentedIM {

  /** The reference's RANK-ordered EARLY-EXIT accumulation (J8,
    * `model/entities/segmented/IndexedDecomposedEntity.scala:36-96` +
    * `utils/geometryUtils/EnvelopeOp.scala:14-30`), FLAG-GATED and
    * default-off: relate neighbourhood segment pairs in envelope-rank
    * order (shared-extent RANK1 first, then partial-overlap RANK2,
    * containment RANK3; disjoint RANK0 never verified), union the
    * intersecting matrices, and stop once the intersects decision is
    * made (the reference's literal stop rule — isEquals &&
    * (isCrosses || isOverlaps) — is unsatisfiable for areal operands,
    * so deciding intersects is the semantically honest exit).
    *
    * NOT the default because partial accumulation can under-set
    * exterior/boundary entries (segment cut edges are real boundaries
    * of the segment polygons — the reference's own WARNING at
    * `IndexedDecomposedEntity.scala:57-59` — and pairs after the exit
    * point never contribute), so only the intersects DECISION is
    * contractual. The differential spec pins intersects-equivalence
    * against plain JTS `relate`. */
  def imEarlyExit(a: Geometry, b: Geometry,
                  segsAIn: => Seq[(Long, Long, Geometry)],
                  segsBIn: => Seq[(Long, Long, Geometry)]): IntersectionMatrix = {
    if (a.getDimension != 2 || b.getDimension != 2) return a.relate(b)
    if (!a.getEnvelopeInternal.intersects(b.getEnvelopeInternal))
      return new IntersectionMatrix("FF2FF1212")
    // Pair segments within a Chebyshev-distance-1 tile neighbourhood.
    // Exact-tile-only pairing would miss two polygons touching exactly
    // ON a θ-grid line: each side's degenerate clip is dropped in the
    // neighbouring column, so their segments never share a tile even
    // though the bodies touch.
    val segsA = segsAIn.toIndexedSeq
    val segsB = segsBIn.toIndexedSeq
    val byTileB = new java.util.HashMap[Long, java.util.ArrayList[Int]]()
    segsB.zipWithIndex.foreach { case ((x, y, _), i) =>
      val k = (x << 32) | (y & 0xFFFFFFFFL)
      var l = byTileB.get(k)
      if (l == null) { l = new java.util.ArrayList[Int](); byTileB.put(k, l) }
      l.add(i)
    }
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Geometry, Geometry)]
    segsA.foreach { case (x, y, ga) =>
      val seen = new java.util.HashSet[Int]()
      var dx = -1L
      while (dx <= 1) {
        var dy = -1L
        while (dy <= 1) {
          val l = byTileB.get(((x + dx) << 32) | ((y + dy) & 0xFFFFFFFFL))
          if (l != null) {
            val it = l.iterator()
            while (it.hasNext) {
              val i = it.next()
              if (seen.add(i)) pairs += ((ga, segsB(i)._3))
            }
          }
          dy += 1
        }
        dx += 1
      }
    }
    if (pairs.isEmpty) return new IntersectionMatrix("FF2FF1212")
    // EnvelopeOp.getIntersectingEnvelopesType, mapped to sort keys
    // (enumeration order RANK1 < RANK2 < RANK3 < RANK0)
    def rank(g1: Geometry, g2: Geometry): Int = {
      val e1 = g1.getEnvelopeInternal; val e2 = g2.getEnvelopeInternal
      if (e1.disjoint(e2)) 3 // RANK0
      else if (e1.contains(e2) || e2.contains(e1)) 2 // RANK3
      else if ((e1.getMinX == e2.getMinX && e1.getMaxX == e2.getMaxX) ||
               (e1.getMinY == e2.getMinY && e1.getMaxY == e2.getMaxY)) 0 // RANK1
      else 1 // RANK2
    }
    val sorted = pairs.map(p => (rank(p._1, p._2), p)).sortBy(_._1)
    val im = new IntersectionMatrix("FFFFFFFFF")
    var intersected = false
    val it = sorted.iterator
    var done = false
    while (!done && it.hasNext) {
      val (r, (g1, g2)) = it.next()
      if (r == 3) done = true // sorted: every remaining pair is RANK0
      else {
        val m = g1.relate(g2)
        if (m.isIntersects) {
          im.add(m)
          intersected = true
          // The intersects DECISION — this variant's whole contract —
          // is now made; stop. (The reference's own stop rule,
          // isEquals && (isCrosses || isOverlaps), is unsatisfiable
          // for areal operands: JTS isCrosses(2,2) is always false
          // and isEquals contradicts isOverlaps — upstream's exit
          // never fires on polygon pairs. Since only isIntersects is
          // contractual here, deciding it IS the exit.)
          done = true
        }
      }
    }
    // No segment pair intersected → the bodies are disjoint; return the
    // canonical areal disjoint matrix, not all-'F' (callers reading the
    // exterior entries would otherwise see an impossible matrix).
    if (!intersected) new IntersectionMatrix("FF2FF1212") else im
  }
}
