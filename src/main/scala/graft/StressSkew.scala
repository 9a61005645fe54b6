package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SpatialJoin

/** Skew stress (dev tool): a handful of giant many-vertex polygons in a
  * dense world of small boxes — every hot target collects thousands of
  * candidates, each costing a prepared JTS relate. Times the plain
  * DE-9IM join over this hot corpus, then the typed progressive paths
  * over the same dense corpus.
  *
  * The reference's skew handling was measured here and deleted
  * (COVERAGE §2.8; sf0.1, 4 cores, one JVM, rotated order): L3
  * segment-batched re-batching lost to the L2 z-score split + round-
  * robin redistribution, and L2 in turn lost to the plain join at both
  * z = 0 and the reference's z = 3, with identical rows.
  *
  * Usage: runMain graft.StressSkew [sfDir]
  */
object StressSkew {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[skew] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val space = 600L
    def box(key: Column, sz: Column) = {
      val xmin = (key * 13) % (space - 20)
      val ymin = (key * 29) % (space - 20)
      concat(lit("POLYGON(("),
        xmin, lit(" "), ymin, lit(", "),
        xmin + sz, lit(" "), ymin, lit(", "),
        xmin + sz, lit(" "), ymin + sz, lit(", "),
        xmin, lit(" "), ymin + sz, lit(", "),
        xmin, lit(" "), ymin, lit("))"))
    }
    // compact "coastline" blob: high vertex count, gentle wiggle — the
    // realistic heavy geometry (spiky stars are adversarial for JTS
    // overlay noding and unrepresentative)
    def blob(cx: Double, cy: Double, r: Double, pts: Int): String = {
      val coords = (0 until pts).map { i =>
        val a = 2 * math.Pi * i / pts
        val rr = r * (1.0 + 0.08 * math.sin(a * 23) + 0.04 * math.cos(a * 57))
        s"${cx + rr * math.cos(a)} ${cy + rr * math.sin(a)}"
      }
      s"POLYGON((${coords.mkString(", ")}, ${coords.head}))"
    }

    val hotRows = (0 until 4).map { i =>
      (s"hot$i", blob(space / 2.0 + i * 7, space / 2.0 + i * 5, 60.0, 20000))
    }
    val src = SpatialJoin.entities(
      Tables.lineitem(spark, sfDir).limit(150000)
        .select(monotonically_increasing_id().as("id"),
          box(col("l_orderkey") * 11 + col("l_linenumber"), lit(4)).as("wkt")),
      col("id"), col("wkt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tgt = SpatialJoin.entities(
      Tables.orders(spark, sfDir).limit(5000)
        .select(concat(lit("t"), col("o_orderkey")).as("id"),
          box(col("o_orderkey") * 3 + 1, lit(4)).as("wkt")),
      col("id"), col("wkt"))
      .unionByName(SpatialJoin.entities(
        hotRows.toDF("id", "wkt"), col("id"), col("wkt")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[skew] src=${src.count()} tgt=${tgt.count()}")

    // materializedCount, not count(): column pruning would drop the
    // DE-9IM column and with it every verification
    val plain = time("hot-target verify, plain de9im")(
      Bench.materializedCount(SpatialJoin.de9im(src, tgt)))
    // second run has warm geometry/prepared caches
    val plainWarm = time("plain de9im again (warm)")(
      Bench.materializedCount(SpatialJoin.de9im(src, tgt)))
    println(s"[skew] rows plain=$plain warm=$plainWarm")

    // Dense-partition dynamic PQ: hot targets collect thousands of
    // candidates per partition, but the typed drain holds only
    // O(localBudget) pairs (bounded fill) — verified count must equal
    // the budget exactly (proration sums to min(budget, candidates)).
    val budget = 2000
    val dyn = time(s"dynamic progressive, budget=$budget over dense corpus")(
      graft.operators.ProgressiveTyped.dynamicProgressive(
        src, tgt, "w_js", budget, "intersects").count())
    println(s"[skew] dynamic verified=$dyn (budget=$budget) " +
      s"bounded=${dyn == budget}")

    // Early stopping over the same dense corpus: the sort runs on
    // narrow rows and each 20k-vertex hot blob ships once per
    // partition, never once per candidate pair — this completes in
    // bounded memory where a wide-row sortWithinPartitions would spill
    // the blob thousands of times.
    val es = time("early stopping over dense corpus")(
      graft.operators.ProgressiveTyped.earlyStopping(
        src, tgt, "w_js", relation = "intersects", batchSize = 500,
        precisionLevel = 0.5, maxViolations = 2).count())
    println(s"[skew] earlyStopping verified=$es")
    graft.spark.DfCache.release(spark)
    spark.stop()
  }
}
