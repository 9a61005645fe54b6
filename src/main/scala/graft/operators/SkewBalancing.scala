package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GeomFunctions._

/** Verification-cost skew handling (reference: DS-JedAI
  * `linkers/loadbalancing/WellBalancedDistributedInterlinking.scala`
  * L1-L2). Spark's AQE skew join only rebalances shuffle BYTES; the
  * expensive resource here is JTS verification time, which scales with
  * geometry size x candidate count. So the cost model stays explicit:
  *
  *   cost(target) = numPoints(target) x |candidates(target)|
  *   skewed      <=> z-score(cost) > zThreshold   (reference: 3)
  *
  * Cheap pairs verify in place (no extra shuffle); skewed pairs are
  * round-robin repartitioned so one hot target's verifications spread
  * across the cluster, then the two branches union. Results are
  * identical to the unbalanced join — only placement changes.
  */
object SkewBalancing {

  /** Hot-target ids by z-scored verification cost. The stats pass runs
    * over NARROW candidates (ids + MBRs) with the point count joined
    * from the entity frame — the wide geometry-carrying join is never
    * evaluated just to count pairs (the reference's stats come from
    * per-partition entity arrays, similarly blob-free). */
  private def skewSplit(source: DataFrame, target: DataFrame,
                        theta: SpatialJoin.Theta, zThreshold: Double): DataFrame = {
    val costs = SpatialJoin.candidatePairsNarrow(source, target, theta)
      .groupBy(col("t_id")).agg(count(lit(1)).as("n"))
      .join(target.select(col("id").as("t_id"),
        st_numpoints(col("geom")).as("np")), "t_id")
      .select(col("t_id"), (col("n") * col("np")).as("cost"))
    val stats = costs.agg(
      avg(col("cost")).as("mu"), stddev_pop(col("cost")).as("sigma")).head()
    if (stats.isNullAt(0) || stats.isNullAt(1)) // zero candidates
      return costs.select(col("t_id")).limit(0)
    val mu = stats.getDouble(0)
    val sigma = math.max(stats.getDouble(1), 1e-12)
    costs
      .filter((col("cost") - mu) / sigma > zThreshold)
      .select(col("t_id"))
  }

  private def verify(pairs: DataFrame): DataFrame =
    SpatialJoin.imRows(pairs, st_im(col("s_geom"), col("t_geom")))

  /** DE-9IM with cost-balanced verification placement. */
  def balancedDe9im(source: DataFrame, target: DataFrame,
                    zThreshold: Double = 3.0,
                    granularity: String = "avg"): DataFrame = {
    val theta = SpatialJoin.computeTheta(source, granularity)
    val cands = SpatialJoin.candidatePairs(source, target, theta)
    val skewedIds = skewSplit(source, target, theta, zThreshold)

    // Broadcast membership split: cheap pairs stay put, skewed pairs
    // spread round-robin across all partitions.
    val cheap  = cands.join(broadcast(skewedIds), Seq("t_id"), "left_anti")
    val skewed = cands.join(broadcast(skewedIds), Seq("t_id"), "left_semi")
      .repartition(cands.sparkSession.sessionState.conf.numShufflePartitions)

    verify(cheap).unionByName(verify(skewed))
  }

  /** One skewed candidate pair entering the scheduling step. The hot
    * target's geometry is NOT carried per pair (it would replicate a
    * potentially huge blob once per candidate through the scheduling
    * shuffle); skewed targets are few by the z-score definition, so
    * their geometries travel as a broadcast map instead. */
  case class PairRow(s_id: String, t_id: String, s_geom: Array[Byte],
                     tx0: Long, tx1: Long, ty0: Long, ty1: Long)

  /** One redistributable verification batch: the pre-computed segment
    * union (or the full target when not trimmed / non-polygonal
    * sources) plus up to batchCap sources — the reference's
    * List[EntityT]-with-head-target rows
    * (`WellBalancedDistributedInterlinking.scala:168-173`). */
  case class BatchRow(t_id: String, union: Array[Byte], trimmed: Boolean,
                      s_ids: Seq[String], s_geoms: Seq[Array[Byte]])
  case class ImRow(s_id: String, t_id: String, de9im: String,
                           intersects: Boolean, contains: Boolean,
                           within: Boolean, covers: Boolean,
                           coveredby: Boolean, crosses: Boolean,
                           overlaps: Boolean, touches: Boolean,
                           equals: Boolean)

  /** L3/L4 (reference `WellBalancedDistributedInterlinking.scala:95-166`
    * + `IndicesPrefixTrie.scala:89-152`): segment-batched
    * redistribution for skewed DECOMPOSED targets.
    *
    * L2 alone round-robins a hot target's pairs across every executor —
    * and each one re-unions the hot geometry's candidate segments from
    * a cold per-thread cache, multiplying decompose/union cost by the
    * cluster width. The reference's trie groups sources that touch the
    * SAME segment subset so the union happens once per batch; here the
    * grouping key is the θ-tile rectangle of candidate segments,
    * computed declaratively from the MBR columns (no geometry access):
    *
    *   rect(pair) = tileRange(target) ∩ (tileRange(source) ± 1 ring)
    *
    * Exactness: every excluded segment is ≥ 1 full tile away from the
    * source's envelope (the ±1 ring covers a source envelope sitting
    * exactly on a grid line), hence strictly disjoint from the source.
    * So the union of the kept segments has its only cut edges where no
    * source point lies, and relate(S, union) gives relate(S, T)'s
    * interior and boundary entries. When segments were dropped, part of
    * T's interior and boundary lies outside env(S) ⊇ S (a polygon's
    * boundary touches every side of its envelope), which fixes S's
    * exterior row: EI = 2, EB = 1, EE = 2.
    *
    * Placement mirrors the reference exactly: SCHEDULING (decompose +
    * per-rect unions + batching, cap 256 like the trie node cap) runs
    * once per hot target where its candidate list is grouped; the
    * redistributable rows carry the pre-unioned geometry, so the
    * receiving executors do NO decomposition at all — that is the L3
    * win over L2, which re-decomposes the hot target on every executor
    * its pairs land on. Verification relates each source against the
    * batch union with those exterior-row fixups — results are
    * bit-equal to plain `st_im` (both are exactly JTS `relate`). */
  def rebalancedSegmentedDe9im(source: DataFrame, target: DataFrame,
                               zThreshold: Double = 3.0,
                               batchCap: Int = 256): DataFrame = {
    val spark = source.sparkSession
    import spark.implicits._
    val theta = SpatialJoin.computeTheta(source)
    val tx = theta.x; val ty = theta.y
    val cands = SpatialJoin.candidatePairs(source, target, theta)
    val skewedIds = skewSplit(source, target, theta, zThreshold)
    val cheap = cands.join(broadcast(skewedIds), Seq("t_id"), "left_anti")

    // Hot-target geometries: few rows by construction → broadcast.
    val hotGeoms: Map[String, Array[Byte]] = target
      .join(broadcast(skewedIds.withColumnRenamed("t_id", "id")), Seq("id"),
        "left_semi")
      .select(col("id"), col("geom")).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val bcHot = spark.sparkContext.broadcast(hotGeoms)

    // Candidate-segment tile rectangle, from MBR columns only. The
    // source range (±1 safety ring) is quantized to BLOCK-tile-aligned
    // boundaries so nearby sources share one rect → one union (the
    // analogue of the reference trie's subset-sharing: exact-key
    // grouping alone rarely repeats). A coarser rect only ADDS
    // candidate segments — exactness needs only that every EXCLUDED
    // segment is ≥ 1 tile away from the source envelope, which the
    // quantization preserves.
    val B = 4L // block size in tiles
    def tr(c: String, th: Double) = floor(col(c) / th).cast("long")
    def qLo(c: Column) = floor((c - 1).cast("double") / B).cast("long") * B
    def qHi(c: Column) = (floor((c + 1).cast("double") / B).cast("long") + 1) * B - 1
    val keyed = cands.join(broadcast(skewedIds), Seq("t_id"), "left_semi")
      .select(col("s_id"), col("t_id"), col("s_geom"),
        greatest(tr("t_minx", tx), qLo(tr("s_minx", tx))).as("tx0"),
        least(tr("t_maxx", tx), qHi(tr("s_maxx", tx))).as("tx1"),
        greatest(tr("t_miny", ty), qLo(tr("s_miny", ty))).as("ty0"),
        least(tr("t_maxy", ty), qHi(tr("s_maxy", ty))).as("ty1"))
      .as[PairRow]

    // SCHEDULING: one task per hot target — decompose once, union each
    // distinct rect once, emit batch rows carrying the union.
    val batches = keyed
      .groupByKey(_.t_id)
      .flatMapGroups { (tid: String, it: Iterator[PairRow]) =>
        import org.locationtech.jts.operation.union.UnaryUnionOp
        import graft.functions.GeomCache
        import graft.functions.Jts
        import scala.jdk.CollectionConverters._
        val rows = it.toArray
        val tWkb = bcHot.value(tid)
        val tGeom = GeomCache.geometry(tWkb)
        val polygonalT = tGeom.getDimension == 2
        // Decompose at BLOCK granularity (B·θ): 1/B² the segments of a
        // join-θ decomposition — decompose cost for a many-vertex hot
        // geometry drops by the same factor, and the rect keys are
        // block-aligned so candidate selection stays exact (an excluded
        // block's tiles all lie beyond the quantized +1 ring).
        val segs =
          if (polygonalT) GeomCache.segments(tWkb, tx * B, ty * B) else Nil
        // non-polygonal sources (and non-polygonal targets) verify
        // against the full target geometry — no trim argument applies
        val (trimmable, full) = rows.partition { r =>
          polygonalT && GeomCache.geometry(r.s_geom).getDimension == 2
        }
        val fullBatches = full.grouped(batchCap).map { b =>
          BatchRow(b.head.t_id, tWkb, trimmed = false,
            b.map(_.s_id).toSeq, b.map(_.s_geom).toSeq)
        }
        val trimmedBatches = trimmable
          .groupBy(r => (r.tx0, r.tx1, r.ty0, r.ty1))
          .iterator.flatMap { case ((rx0, rx1, ry0, ry1), rs) =>
            // block-index bounds (floor division; superset-safe)
            val bx0 = Math.floorDiv(rx0, B); val bx1 = Math.floorDiv(rx1, B)
            val by0 = Math.floorDiv(ry0, B); val by1 = Math.floorDiv(ry1, B)
            val cand = segs.collect {
              case (sx, sy, g)
                if sx >= bx0 && sx <= bx1 && sy >= by0 && sy <= by1 => g
            }
            val (union, trimmed) =
              if (cand.size == segs.size) (tWkb, false)
              else if (cand.isEmpty) (Array.empty[Byte], true)
              else (Jts.toWkb(UnaryUnionOp.union(cand.asJava)), true)
            rs.grouped(batchCap).map { b =>
              BatchRow(b.head.t_id, union, trimmed,
                b.map(_.s_id).toSeq, b.map(_.s_geom).toSeq)
            }
          }
        fullBatches ++ trimmedBatches
      }
      // VERIFICATION: batches spread round-robin; receivers never
      // touch the raw hot geometry, only the shipped union.
      .repartition(spark.sessionState.conf.numShufflePartitions)

    val rebatched = batches.flatMap { b =>
      import graft.functions.GeomCache
      val union =
        if (b.union.isEmpty) null else GeomCache.geometry(b.union)
      b.s_ids.iterator.zip(b.s_geoms.iterator).map { case (sId, sWkb) =>
        val sGeom = GeomCache.geometry(sWkb)
        val im =
          if (union == null) // no candidate segments: disjoint polygons
            new org.locationtech.jts.geom.IntersectionMatrix("FF2FF1212")
          else if (!b.trimmed)
            sGeom.relate(union) // union IS the full target
          else {
            val m = sGeom.relate(union)
            m.set(2, 0, 2); m.set(2, 1, 1) // Exterior(S) x trimmed T
            m.set(2, 2, 2)
            m
          }
        // dimensions for the dimension-sensitive predicates: the
        // trimmed path only exists for polygonal operands (dim 2,2);
        // otherwise union is the full target geometry
        val d1 = sGeom.getDimension
        val d2 = if (b.trimmed || union == null) 2 else union.getDimension
        ImRow(sId, b.t_id, im.toString, !im.isDisjoint,
          im.isContains, im.isWithin, im.isCovers, im.isCoveredBy,
          im.isCrosses(d1, d2), im.isOverlaps(d1, d2),
          im.isTouches(d1, d2), im.isEquals(d1, d2))
      }
    }

    verify(cheap).unionByName(rebatched.toDF())
  }
}
