package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Progressive, ProgressiveTyped, SpatialJoin, VerifiedPair}

/** Every progressive linker under every weighting function, checked
  * against the unbudgeted weighted ranking of the same candidates: the
  * budget cut, the rank order and the verified predicate must agree.
  * Budgets (and top-k's k) sit below the candidate count so the cut
  * really applies, and `contains` leaves some verified pairs
  * non-qualifying so the running counts are not trivially the ranks.
  */
class ProgressiveWeightsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  private def entitiesDf(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    SpatialJoin.entities(rows.toDF("id", "wkt"), col("id"), col("wkt"))
  }

  private lazy val source = entitiesDf(TestGeoms.corpus(seed = 5, n = 240, world = 60))
  private lazy val target = entitiesDf(TestGeoms.corpus(seed = 9, n = 180, world = 60))
  private val Rel = "contains"
  private val K = 2
  private val Weights = Seq("w_cf", "w_js", "w_mbro", "w_x2", "w_isp", "w_rand")

  private case class Cand(s: String, t: String, w: Double, qualifies: Boolean)

  private def pairs(df: DataFrame): Set[(String, String)] =
    df.select("s_id", "t_id").collect().map(r => (r.getString(0), r.getString(1))).toSet

  private lazy val candidates =
    pairs(SpatialJoin.candidatePairs(source, target, SpatialJoin.computeTheta(source)))
  private lazy val qualifying = pairs(SpatialJoin.relate(source, target, Rel))

  private val fullCache = scala.collection.mutable.Map.empty[String, IndexedSeq[Cand]]

  /** Every candidate in rank order (the unbudgeted global linker),
    * checked against the batch candidate and `relate` sets and the
    * (weight desc, s_id, t_id) total order before any test uses it. */
  private def full(weight: String): IndexedSeq[Cand] = fullCache.getOrElseUpdate(weight, {
    val rows = Progressive.progressiveVerify(source, target, weight, Int.MaxValue, Rel)
      .select(col("rank"), col("s_id"), col("t_id"),
        col(weight).cast("double"), col("qualifies"))
      .orderBy("rank").collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length))
    val cands = rows.map(r =>
      Cand(r.getString(1), r.getString(2), r.getDouble(3), r.getBoolean(4))).toIndexedSeq
    assert(cands.map(c => (c.s, c.t)).toSet === candidates)
    assert(cands.length === candidates.size)
    assert(cands.filter(_.qualifies).map(c => (c.s, c.t)).toSet === qualifying)
    cands.zip(cands.tail).foreach { case (a, b) =>
      assert(a.w > b.w || (a.w == b.w && (a.s < b.s || (a.s == b.s && a.t < b.t))),
        s"$weight: $a must rank before $b")
    }
    cands
  })

  /** Half the candidates: the cut applies and crosses both outcomes. */
  private def budget(weight: String): Int = {
    val b = full(weight).length / 2
    val kept = full(weight).take(b)
    assert(b > 0 && kept.exists(_.qualifies) && kept.exists(!_.qualifies))
    b
  }

  private def byPair(weight: String): Map[(String, String), Cand] =
    full(weight).map(c => (c.s, c.t) -> c).toMap

  /** The top-k of each group, the group's own order being the global
    * (weight desc, s_id, t_id) order restricted to it. */
  private def topKOf(weight: String, key: Cand => String): Set[(String, String, Int)] =
    full(weight).groupBy(key).values.flatMap(_.take(K).zipWithIndex
      .map { case (c, i) => (c.s, c.t, i + 1) }).toSet

  /** Sequential linkers: per partition the verify order runs 0..n-1,
    * every pair is a candidate verified once with the true predicate,
    * and the weights of `ordered(partition)` do not increase. */
  private def checkSequential(weight: String, got: Seq[VerifiedPair],
                              ordered: Seq[VerifiedPair] => Seq[VerifiedPair]): Unit = {
    val cands = byPair(weight)
    assert(got.map(p => (p.s_id, p.t_id)).distinct.length === got.length)
    got.foreach { p =>
      assert(cands.get((p.s_id, p.t_id)).map(_.qualifies) === Some(p.qualifies))
    }
    got.groupBy(_.part).values.foreach { part =>
      val inOrder = part.sortBy(_.verify_order)
      assert(inOrder.map(_.verify_order) === inOrder.indices)
      val ws = ordered(inOrder).map(p => cands((p.s_id, p.t_id)).w)
      assert(ws.zip(ws.tail).forall { case (a, b) => a >= b },
        s"$weight: verification order must be weight-descending, got $ws")
    }
  }

  private val linkers: Seq[(String, String => Unit)] = Seq(
    "progressiveVerify" -> { w =>
      val b = budget(w)
      val got = Progressive.progressiveVerify(source, target, w, b, Rel)
        .select(col("rank"), col("s_id"), col("t_id"),
          col(w).cast("double"), col("qualifies"))
        .orderBy("rank").collect()
      assert(got.map(_.getLong(0)).toSeq === (1L to math.min(b, full(w).length)))
      assert(got.map(r => Cand(r.getString(1), r.getString(2), r.getDouble(3),
        r.getBoolean(4))).toSeq === full(w).take(b))
    },
    "pgrCurve" -> { w =>
      val b = budget(w)
      val curve = Progressive.pgrCurve(source, target, w, Rel, b)
        .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val cum = full(w).take(b).scanLeft(0L)((acc, c) => acc + (if (c.qualifies) 1 else 0)).tail
      assert(curve.nonEmpty)
      curve.foreach { case (rank, qp) => assert(qp === cum((rank - 1).toInt), s"at rank $rank") }
      // the curve ends on progressiveVerify's qualifying count at this budget
      val verified = Progressive.progressiveVerify(source, target, w, b, Rel)
        .filter(col("qualifies")).count()
      assert(curve.last === ((math.min(b, full(w).length).toLong, verified)))
    },
    "topKPerTarget" -> { w =>
      assert(full(w).groupBy(_.t).values.exists(_.length > K))
      val got = Progressive.topKPerTarget(source, target, w, K)
        .select(col("s_id"), col("t_id"), col("rk")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(got === topKOf(w, _.t))
    },
    "reciprocalTopK" -> { w =>
      val got = pairs(Progressive.reciprocalTopK(source, target, w, K))
      val ofT = topKOf(w, _.t).map(p => (p._1, p._2))
      val ofS = topKOf(w, _.s).map(p => (p._1, p._2))
      assert(ofT.size > (ofT intersect ofS).size, "k must cut something")
      assert(got === (ofT intersect ofS))
    },
    "dynamicProgressive" -> { w =>
      val b = budget(w)
      val got = ProgressiveTyped.dynamicProgressive(source, target, w, b, Rel)
        .collect().toSeq
      assert(got.length === math.min(b, full(w).length))
      // boosts fire only after a qualifying verification, so the prefix
      // through a partition's first match follows the base weights
      checkSequential(w, got, part => {
        val firstMatch = part.indexWhere(_.qualifies)
        if (firstMatch < 0) part else part.take(firstMatch + 1)
      })
    },
    "earlyStopping" -> { w =>
      // precisionLevel 0 never stops, so every candidate is verified
      val got = ProgressiveTyped.earlyStopping(source, target, w, Rel,
        batchSize = 10, precisionLevel = 0.0, maxViolations = 1).collect().toSeq
      assert(got.length === full(w).length)
      checkSequential(w, got, identity)
    }
  )

  for ((linker, check) <- linkers; w <- Weights)
    test(s"$linker under $w: budget cut, rank order and predicate") { check(w) }
}
