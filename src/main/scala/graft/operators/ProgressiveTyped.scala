package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.functions.Jts
import graft.model.Relation

/** Narrow candidate (ids + weights only — no geometry payloads; up to
  * three scheduling weights, w2/w3 are 0 unless a multi-weight ordering
  * asks for them — the reference's CompositeWP /
  * ThinMultiCompositePair carry the same extra weights,
  * `model/weightedPairs/CompositeWP.scala:27-48`,
  * `ThinMultiCompositePair.scala:8-25`). */
case class NarrowCand(s_id: String, t_id: String,
                      w: Double, w2: Double, w3: Double)

/** Narrow candidate tagged with its origin partition. */
case class PidCand(pid: Int, s_id: String, t_id: String,
                   s_geom: Array[Byte], t_geom: Array[Byte],
                   w: Double, w2: Double, w3: Double)

/** Rank-tagged narrow candidate (early stopping phase 1: the sorted
  * position within its origin partition). */
case class RankedCand(pid: Int, rank: Int, s_id: String, t_id: String)

/** Per-partition entity delivery row (side 0 = source, 1 = target):
  * each geometry blob ships once per partition it participates in. */
case class SideEnt(pid: Int, side: Int, eid: String, geom: Array[Byte])

/** Verified pair emitted by the sequential algorithms, tagged with the
  * in-partition verification order. */
case class VerifiedPair(s_id: String, t_id: String, part: Int,
                        verify_order: Int, qualifies: Boolean)

/** The progressive algorithms with genuine sequential feedback — no
  * declarative form exists, so they run as typed `mapPartitions` over
  * the weighted candidates, one bounded in-memory structure per
  * partition (the reference's execution shape:
  * `linkers/progressive/DynamicProgressiveGIAnt.scala`,
  * `EarlyStoppingLinker.scala`). Candidates stay distributed; only the
  * per-partition priority queue is local, and it is budget-bounded.
  */
object ProgressiveTyped {

  /** Largest-remainder proration of the global budget over partitions
    * by candidate share — the analogue of the reference's source-share
    * proration (`ProgressiveGIAnt.scala:26` gives each partition
    * budget x its share of source entities; here the unit of work is
    * the candidate pair, so shares are pair counts). Deterministic:
    * fractional remainders break ties by partition id. The allocations
    * sum to min(budget, total) exactly. */
  private[graft] def prorate(counts: Map[Int, Long], budget: Int): Map[Int, Int] = {
    val total = counts.values.sum
    if (total == 0L) Map.empty
    else {
      val capped = math.min(budget.toLong, total)
      val exact = counts.toSeq.sortBy(_._1).map { case (pid, c) =>
        (pid, c, capped.toDouble * c / total)
      }
      val base = exact.map { case (pid, c, e) =>
        (pid, c, math.min(math.floor(e).toLong, c), e - math.floor(e))
      }
      var rem = capped - base.map(_._3).sum
      val bumped = base.sortBy { case (pid, _, _, frac) => (-frac, pid) }.map {
        case (pid, c, b, _) =>
          if (rem > 0 && b < c) { rem -= 1; pid -> (b + 1) } else pid -> b
      }
      bumped.map { case (pid, b) => pid -> math.min(b, Int.MaxValue.toLong).toInt }.toMap
    }
  }

  /** The ids and up to three ordering weights of each candidate as
    * [[NarrowCand]] rows, padding the weights a linker leaves unused
    * with 0 (a non-default main weight leaves early stopping two). */
  private def narrowCands(cands: DataFrame, weights: Seq[String]): Dataset[NarrowCand] = {
    val ws = weights.map(c => col(c).cast("double")).padTo(3, lit(0.0))
      .zip(Seq("w", "w2", "w3")).map { case (c, n) => c.as(n) }
    cands.select(col("s_id") +: col("t_id") +: ws: _*).as(Encoders.product[NarrowCand])
  }

  /** DynamicProgressiveGIAnt (reference
    * `DynamicProgressiveGIAnt.scala:25-88`): drain candidates best-first
    * under a per-partition budget; every time a verified pair
    * qualifies, the weights of queued pairs sharing either entity are
    * boosted by (1 + relatedMatches) and the queue re-orders. Lazy
    * re-insertion keeps the PQ O(log n) amortized.
    *
    * Memory is budget-bounded like the reference's `ComparisonPQ`
    * (maximumSize = localBudget, `ComparisonPQ.scala:10-70`): the
    * initial fill streams candidates through a min-heap capped at the
    * partition's prorated budget, so a dense partition holds
    * O(localBudget) pairs, never O(candidates). Boosts only apply to
    * queued pairs (reference semantics), so the kept SET is the
    * base-weight top-localBudget and the dynamic reordering decides
    * emission order.
    *
    * Memory shape (the part the reference gets from per-partition
    * entity arrays): everything persisted or held in a heap is NARROW
    * (ids + weights, ~40 B/row) — a wide candidate row would carry
    * BOTH geometry payloads, and on a dense partition around a large
    * geometry that duplicates the payload once per pair (gigabytes for
    * a 20k-point polygon with thousands of candidates). Geometries are
    * joined back only for the selected top-localBudget pairs, so total
    * wide data is bounded by the global budget. */
  def dynamicProgressive(source: DataFrame, target: DataFrame, weight: String,
                         budget: Int, relation: String,
                         scheme: String = "SIMPLE",
                         secondary: String = "",
                         granularity: String = "avg"): Dataset[VerifiedPair] = {
    val schemeU = scheme.toUpperCase
    require(Set("SIMPLE", "COMPOSITE", "HYBRID")(schemeU),
      s"unknown scheme: $scheme")
    require(schemeU == "SIMPLE" || secondary.nonEmpty,
      s"scheme $schemeU needs a secondary weight column")
    val weights = if (secondary.isEmpty) Seq(weight) else Seq(weight, secondary)
    val (cands, src, tgt) =
      Progressive.weighted(source, target, weights.toSet, granularity)
    val spark = src.sparkSession
    import spark.implicits._
    val narrow = narrowCands(cands, weights)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Job 1 (materializes the narrow cache): per-partition pair counts.
    val counts = narrow.rdd
      .mapPartitionsWithIndex((pid, it) => Iterator.single(pid -> {
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
      }), preservesPartitioning = true)
      .collect().toMap
    val localBudgets = prorate(counts, budget)
    // The dynamic boost multiplies the MAIN ordering weight (reference
    // WeightedPairT.getMainWeight * (1+relatedMatches)); COMPOSITE's
    // secondary is a static tie-breaker, HYBRID boosts the product
    // (its main weight IS the product).
    def mainOf(w: Double, w2: Double): Double =
      if (schemeU == "HYBRID") w * w2 else w
    def secondOf(w2: Double): Double =
      if (schemeU == "COMPOSITE") w2 else 0.0
    // Phase 1 — bounded per-partition selection on NARROW rows:
    // min-heap ("worst kept pair" at the head) capped at localBudget,
    // the reference ComparisonPQ's maximumSize. Boosts only ever apply
    // to queued pairs, so this IS the verified set.
    val selected = narrow.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val lb = localBudgets.getOrElse(pid, 0)
      if (lb == 0) Iterator.empty
      else {
        val worstFirst = new java.util.PriorityQueue[NarrowCand](
          lb + 1, (a: NarrowCand, b: NarrowCand) => {
            val m = java.lang.Double.compare(mainOf(a.w, a.w2), mainOf(b.w, b.w2))
            if (m != 0) m
            else {
              val s = java.lang.Double.compare(secondOf(a.w2), secondOf(b.w2))
              if (s != 0) s
              else {
                val i = b.s_id.compareTo(a.s_id)
                if (i != 0) i else b.t_id.compareTo(a.t_id)
              }
            }
          })
        it.foreach { c =>
          worstFirst.add(c)
          if (worstFirst.size > lb) worstFirst.poll()
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[PidCand]
        worstFirst.forEach(c =>
          out += PidCand(pid, c.s_id, c.t_id, null, null, c.w, c.w2, c.w3))
        out.iterator
      }
    }.localCheckpoint(true) // materialize (<= budget narrow rows) ...
    // ... so the candidate cache can be dropped deterministically
    // instead of leaking one persisted RDD per invocation
    narrow.unpersist(blocking = false)
    // Phase 2 — geometry join-back for the selected pairs only
    // (<= budget rows across all partitions).
    val withGeoms = selected.toDF().drop("s_geom", "t_geom")
      .join(src.select(col("id").as("s_id"), col("geom").as("s_geom")), "s_id")
      .join(tgt.select(col("id").as("t_id"), col("geom").as("t_geom")), "t_id")
      .select(col("pid"), col("s_id"), col("t_id"), col("s_geom"), col("t_geom"),
        col("w"), col("w2"), col("w3")).as[PidCand]
    // Phase 3 — dynamic drain per ORIGIN partition (pid travels as
    // data): at most localBudget wide rows per group in memory.
    withGeoms.groupByKey(_.pid).flatMapGroups { (pid, rows) =>
      val lb = localBudgets.getOrElse(pid, 0)
      val rel = Relation.of(relation)
      val matches = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      def boosted(c: PidCand): Double =
        mainOf(c.w, c.w2) * (1 + matches(c.s_id) + matches(c.t_id))
      // max-heap on (boosted main, secondary) with deterministic id
      // tie-break and lazy re-insertion on stale weights
      val pq = new java.util.PriorityQueue[(Double, PidCand)](
        lb + 1, (a: (Double, PidCand), b: (Double, PidCand)) => {
          val m = java.lang.Double.compare(b._1, a._1)
          if (m != 0) m
          else {
            val s = java.lang.Double.compare(secondOf(b._2.w2), secondOf(a._2.w2))
            if (s != 0) s
            else {
              val i = a._2.s_id.compareTo(b._2.s_id)
              if (i != 0) i else a._2.t_id.compareTo(b._2.t_id)
            }
          }
        })
      rows.foreach(c => pq.add((mainOf(c.w, c.w2), c)))
      val out = scala.collection.mutable.ArrayBuffer.empty[VerifiedPair]
      var order = 0
      while (order < lb && !pq.isEmpty) {
        val (w0, c) = pq.poll()
        val wNow = boosted(c)
        if (wNow > w0) pq.add((wNow, c)) // stale: re-enqueue, don't verify yet
        else {
          val q = rel.eval(Jts.fromWkb(c.s_geom), Jts.fromWkb(c.t_geom))
          out += VerifiedPair(c.s_id, c.t_id, pid, order, q)
          order += 1
          if (q) { matches(c.s_id) += 1; matches(c.t_id) += 1 }
        }
      }
      out.iterator
    }
  }

  /** EarlyStoppingLinker (reference `EarlyStoppingLinker.scala:34-130`):
    * verify the weight-ranked stream in batches; count qualifying pairs
    * per batch; after `maxViolations` consecutive batches yielding
    * fewer than precisionLevel x first-batch matches, stop the
    * partition.
    *
    * Ordering is the reference's fixed THIN_MULTI_COMPOSITE weighting —
    * lexicographic (JS, CF, MBRO) (`EarlyStoppingLinker.scala:27-31`,
    * `ThinMultiCompositePair.scala:8-25`) — when `weight` is the
    * default "w_js"; passing another main weight keeps CF/MBRO as the
    * remaining lexicographic levels.
    *
    * Memory shape (same discipline as [[dynamicProgressive]]): the sort
    * runs over NARROW rows (ids + weights) only — a wide candidate row
    * would carry both WKB payloads and a dense partition around a large
    * geometry would duplicate the blob once per pair through the sort
    * spill. Geometries ship once per (partition, entity) — the
    * reference's per-partition entity arrays
    * (`DistributedInterlinking.scala:37-52`) — and the sorted cogroup
    * delivers candidates rank-ascending against that local lookup. */
  def earlyStopping(source: DataFrame, target: DataFrame,
                    weight: String = "w_js",
                    relation: String, batchSize: Int = 100,
                    precisionLevel: Double = 0.1,
                    maxViolations: Int = 3,
                    granularity: String = "avg"): Dataset[VerifiedPair] = {
    val weights = weight +: Seq("w_cf", "w_mbro").filterNot(_ == weight)
    val (cands, src, tgt) =
      Progressive.weighted(source, target, weights.toSet, granularity)
    val spark = src.sparkSession
    import spark.implicits._
    // Phase 1 — narrow rank assignment: sort ids+weights within each
    // candidate partition, tag with (pid, rank), pin with an eager
    // checkpoint (two DAG branches below must see the same ranks).
    val ranked = narrowCands(cands, weights)
      .sortWithinPartitions(col("w").desc, col("w2").desc, col("w3").desc,
        col("s_id").asc, col("t_id").asc)
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var i = 0
        it.map { c => val r = RankedCand(pid, i, c.s_id, c.t_id); i += 1; r }
      }
      .localCheckpoint(true)
    // Phase 2 — entity delivery: each geometry blob once per partition
    // it participates in (never once per pair).
    def sideEnts(side: Int, idOf: RankedCand => String,
                 ents: DataFrame): Dataset[SideEnt] =
      ranked.map(c => (c.pid, idOf(c))).distinct()
        .toDF("pid", "eid")
        .join(ents.select(col("id").as("eid"), col("geom")), "eid")
        .select(col("pid"), lit(side).as("side"), col("eid"), col("geom"))
        .as[SideEnt]
    val ents = sideEnts(0, _.s_id, src).union(sideEnts(1, _.t_id, tgt))
    // Phase 3 — sorted cogroup: candidates arrive rank-ascending (the
    // framework's external sort over narrow rows); entities build the
    // per-partition lookup; verify sequentially with the stop rule.
    ranked.groupByKey(_.pid)
      .cogroupSorted(ents.groupByKey(_.pid))(col("rank").asc)() {
        (pid, cands, es) =>
          val geoms = new java.util.HashMap[String, org.locationtech.jts.geom.Geometry]()
          es.foreach(e => geoms.put(s"${e.side}|${e.eid}", Jts.fromWkb(e.geom)))
          val rel = Relation.of(relation)
          val out = scala.collection.mutable.ArrayBuffer.empty[VerifiedPair]
          var firstBatchMatches = -1
          var violations = 0
          var order = 0
          var batchMatches = 0
          var stop = false
          while (!stop && cands.hasNext) {
            val c = cands.next()
            val q = rel.eval(geoms.get("0|" + c.s_id), geoms.get("1|" + c.t_id))
            out += VerifiedPair(c.s_id, c.t_id, pid, order, q)
            if (q) batchMatches += 1
            order += 1
            if (order % batchSize == 0) {
              if (firstBatchMatches < 0) firstBatchMatches = batchMatches
              else if (batchMatches < precisionLevel * firstBatchMatches) {
                violations += 1
                if (violations >= maxViolations) stop = true
              } else violations = 0
              batchMatches = 0
            }
          }
          out
      }
  }
}
