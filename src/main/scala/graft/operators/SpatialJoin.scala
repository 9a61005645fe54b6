package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.functions.GeomFunctions._
import graft.functions.StIm

/** Spark-native holistic spatial interlinking — the capability of
  * DS-JedAI's GIA.nt batch algorithm (`linkers/GIAnt.scala`,
  * `linkers/DistributedInterlinking.scala`) re-expressed as a
  * declarative DataFrame plan:
  *
  *   1. θ ("dynamic tiling") — one aggregate over the SOURCE envelopes
  *      (reference: `model/TileGranularities.scala:33-36`, AVG policy).
  *   2. Tile cover — the θ-grid tiles each geometry's MBR overlaps,
  *      each a single long id ([[graft.functions.TileCover]]): looked
  *      up one by one on the index path, exploded to rows
  *      (`explode(tile_cover(...))`) for the tile join, where the long
  *      is a cheap, dense shuffle key.
  *   3. Candidate generation — a θ-tile → target index built from one
  *      broadcast of the target's rows and probed by one pass over the
  *      source ([[TargetTiles]]; reference:
  *      `model/structures/SpatialIndex.scala`). A target whose index
  *      measures past its bound when the query runs takes a plain
  *      equi-join on the tile id instead: Catalyst picks broadcast vs
  *      shuffled-hash vs sort-merge from sizes, and AQE handles
  *      byte-skew at runtime. It sizes a side before its explode, so it
  *      may broadcast exploded tile rows; a `shuffle_hash` hint in its
  *      place was measured slower on both linkbench workloads
  *      (gia_boxes 0.84 vs 0.80 s, gia_giant 0.39 vs 0.33 s, before the
  *      index path took them), so the choice stays Catalyst's.
  *   4. MBR intersection filter (`LinkerT.scala:52-55`).
  *   5. Reference-point dedup: keep the pair only in the tile containing
  *      the top-left corner of the MBR intersection — replicated pairs
  *      survive exactly once WITHOUT any dropDuplicates shuffle
  *      (reference: `linkers/LinkerT.scala:30-41`).
  *   6. Verification — one exact DE-9IM per surviving pair via the
  *      `st_im` expression ([[graft.functions.StIm.matrix]]: analytic
  *      rectangle IM, prepared RelateNG for heavy polygon pairs, plain
  *      JTS relate otherwise) or `st_predicate` (single relation). Every
  *      verifier relates whole geometries; none decomposes them.
  *
  * Scale: each side's geometry moves at most once. On the index path
  * the target's rows move once, collected when the query runs and
  * broadcast as one blob per target partition, and the source stays
  * where it is read (spread once if it reads as fewer than
  * defaultParallelism partitions); no tile rows move and nothing is
  * joined back. The index is bounded by the bytes its collect
  * measures (256 MB, an unmeasured bound, see
  * [[TargetTiles.maxBytes]]); past it, or past an even share of it in
  * any one target partition, the same execution runs the tile join,
  * whose exploded rows move once (a shuffle on the tile id, or a
  * broadcast of the side Catalyst sizes as small); when [[Theta.ride]]
  * holds and verification stays in place, the source geometry rides in
  * that move and only the target geometry is joined back per pair (see
  * [[tileJoinPairs]]).
  * Verification cost is proportional to surviving candidates, not
  * input size. For a 100 TB run, tune θ (bigger tiles → fewer
  * replicas, more candidates per tile) and rely on AQE skew-join
  * splitting for dense tiles.
  */
object SpatialJoin {

  /** The θ tile size per axis. `ride` says the source geometry may
    * ride the tile explode of [[tileJoinPairs]] (the index path
    * explodes nothing and ignores it): [[computeTheta]] bounds the
    * source bytes after the explode at no more than [[RideBound]] ×
    * the bytes before it. The default keeps the join-back, so a
    * `Theta(x, y)` built anywhere but [[computeTheta]] never rides. */
  case class Theta(x: Double, y: Double, ride: Boolean = false)

  /** How many times its own bytes the source geometry may occupy
    * after the tile explode of [[tileJoinPairs]] and still ride it.
    * Under the `avg` θ an entity of the mean extent bounds at
    * (1 + 2)² = 9 times its bytes, so ordinary corpora ride; a source
    * whose bytes sit in entities tens of θ across does not, because
    * each of its replicas would carry the whole blob through the tile
    * join, where one join-back per surviving pair carries it once. A
    * bound, not a setting: it only picks which of two exact plans
    * moves fewer bytes. */
  private val RideBound = 16.0

  /** Standard geometry-relation schema: id, geom (WKB), minx..maxy.
    * The parse is wrapped in an optimizer barrier so it is evaluated
    * exactly once per row (see [[graft.functions.ExprBarrier]]). */
  def entities(df: DataFrame, id: Column, wkt: Column,
               extra: (String, Column)*): DataFrame =
    entitiesOf(df, id, st_geomfromwkt(wkt), extra)

  /** [[entities]] over parquet-native WKB geometry bytes
    * ([[graft.functions.StGeomFromWkb]]) — production geospatial
    * tables carry WKB binary columns, not WKT text; this keeps the
    * scan binary end to end (no text parse) while applying the same
    * validity filter and canonical normalization. */
  def entitiesFromWkb(df: DataFrame, id: Column, wkb: Column,
                      extra: (String, Column)*): DataFrame =
    // qualified: Spark 4.1's own functions._ also exports an
    // st_geomfromwkb (its geospatial preview surface)
    entitiesOf(df, id, graft.functions.GeomFunctions.st_geomfromwkb(wkb), extra)

  private def entitiesOf(df: DataFrame, id: Column, geom: Column,
                         extra: Seq[(String, Column)]): DataFrame =
    df.select(id.cast("string").as("id") +: barrier(geom).as("geom") +:
        extra.map { case (n, c) => c.as(n) }: _*)
      .filter(col("geom").isNotNull)
      .withColumn("env", barrier(st_envelope(col("geom"))))
      .select(col("id") +: col("geom") +:
        col("env.minx").as("minx") +: col("env.miny").as("miny") +:
        col("env.maxx").as("maxx") +: col("env.maxy").as("maxy") +:
        extra.map { case (n, _) => col(n) }: _*)

  /** θ = SOURCE envelope extent statistic per axis (zero-extent
    * inputs — points / axis-parallel lines — fall back to 1.0,
    * mirroring the reference's guard for degenerate extents,
    * `model/TileGranularities.scala:24-27`). One Spark job: each
    * partition returns its [[Moments]], the driver merges them in
    * partition order (not completion order, so θ is the same to the
    * last bit on every call: θ-tile counts feed the progressive
    * weights) and bakes θ into the plan as literals. The same pass
    * sets [[Theta.ride]]: an entity of extent e covers fewer than
    * e/θ + 2 tiles per axis, so Σb·(ex/θx + 2)(ey/θy + 2) over the
    * geometry bytes b bounds the source bytes after the explode.
    *
    * `granularity` selects the reference's tile-granularity statistic
    * (`model/TileGranularities.scala:22-45`,
    * `utils/configuration/Constants.scala:39-48`):
    *  - `avg` (default, the reference's recommended setting): mean of
    *    the non-degenerate extents;
    *  - `avg2`: half the avg — tiles twice as fine;
    *  - `min`: smallest non-zero extent (the reference filters zero
    *    extents here for exactly the perpendicular-geometry reason);
    *  - `max`: largest extent;
    *  - `none`: no dynamic tiling — θ = (1, 1).
    * The verified pair set is θ-invariant (tiling only changes
    * candidate replication; reference-point dedup removes duplicates),
    * so granularity is a performance dial, never a semantics dial —
    * ConfigRunnerSpec asserts result equality across all five. */
  def computeTheta(source: DataFrame, granularity: String = "avg"): Theta = {
    val stat: (Moments, Int) => Double = granularity.toLowerCase match {
      case "avg" => (m, a) => m.sum(a) / m.n(a)
      case "avg2" => (m, a) => 0.5 * (m.sum(a) / m.n(a))
      case "min" => (m, a) => m.lo(a)
      case "max" => (m, a) => m.hi(a)
      case "none" => return Theta(1.0, 1.0)
      case other => throw new IllegalArgumentException(
        s"unknown thetaGranularity '$other' (avg | avg2 | min | max | none)")
    }
    val m = source.select(col("minx"), col("miny"), col("maxx"), col("maxy"),
        octet_length(col("geom"))).queryExecution.toRdd
      .mapPartitions(rows => Iterator(rows.foldLeft(new Moments)((acc, r) =>
        acc.add(r.getDouble(2) - r.getDouble(0), r.getDouble(3) - r.getDouble(1),
          if (r.isNullAt(4)) 0 else r.getInt(4)))))
      .collect().foldLeft(new Moments)(_ merge _) // in partition order
    // only positive extents count, for every statistic: over a
    // point-only axis the max extent is 0.0, and an unguarded 0.0
    // would clamp to the 1e-9 floor — exploding every MBR into
    // ~extent/1e-9 tiles instead of falling back to θ = 1.0
    def axis(a: Int): Double = if (m.n(a) == 0) 1.0 else math.max(stat(m, a), 1e-9)
    val (tx, ty) = (axis(0), axis(1))
    val exploded = m.bxy / (tx * ty) + 2 * m.bx / tx + 2 * m.by / ty + 4 * m.b
    Theta(tx, ty, ride = exploded <= RideBound * m.b)
  }

  /** One partition's θ statistics, merged on the driver: per axis the
    * count, sum, min and max of the positive extents; and over the
    * geometry bytes b, Σb, Σb·ex, Σb·ey and Σb·ex·ey, the terms of the
    * ride bound. */
  private final class Moments extends Serializable {
    val n = new Array[Long](2)
    val sum = new Array[Double](2)
    val lo = Array.fill(2)(Double.PositiveInfinity)
    val hi = Array.fill(2)(Double.NegativeInfinity)
    var b, bx, by, bxy = 0.0

    def add(ex: Double, ey: Double, bytes: Int): Moments = {
      extent(0, ex); extent(1, ey)
      b += bytes; bx += bytes * ex; by += bytes * ey; bxy += bytes * ex * ey
      this
    }

    private def extent(a: Int, e: Double): Unit = if (e > 0) {
      n(a) += 1; sum(a) += e; lo(a) = math.min(lo(a), e); hi(a) = math.max(hi(a), e)
    }

    def merge(o: Moments): Moments = {
      for (a <- 0 to 1) {
        n(a) += o.n(a); sum(a) += o.sum(a)
        lo(a) = math.min(lo(a), o.lo(a)); hi(a) = math.max(hi(a), o.hi(a))
      }
      b += o.b; bx += o.bx; by += o.by; bxy += o.bxy
      this
    }
  }

  private def prefixed(df: DataFrame, p: String): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))

  /** Narrow candidate pairs: tile join + MBR filter + reference-point
    * dedup over every entity column EXCEPT the geometry blob. Output:
    * s_* and t_* columns (no s_geom/t_geom), one row per pair.
    *
    * The tile explode replicates each row once per covered θ-tile —
    * replicating the WKB blob there multiplies shuffle volume by the
    * tile count (ruinous for large geometries) and lets Catalyst
    * broadcast a deceptively "small" pre-explode side that is huge
    * after the generate. Narrow rows (~50 B) keep the replication
    * harmless; [[tileJoinPairs]] joins the blobs back per surviving
    * pair, which is one hash join per side against the entity frames
    * (persist them when parsing is expensive — the gate queries do),
    * except where [[Theta.ride]] bounds the source blob's replication
    * and it rides the explode instead. This frame never carries a
    * blob, whatever θ says. */
  def candidatePairsNarrow(source: DataFrame, target: DataFrame,
                           theta: Theta): DataFrame =
    pairJoinTail(tiled(source, "s_", theta), tiled(target, "t_", theta), theta)

  /** `side` exploded to one row per covered θ-tile, its columns
    * prefixed with `p`; the geometry blob is dropped unless `geom`. */
  private def tiled(side: DataFrame, p: String, theta: Theta,
                    geom: Boolean = false): DataFrame =
    explodeTiles(prefixed(if (geom) side else side.drop("geom"), p),
      n => col(p + n), theta, "tile")

  private def pairJoinTail(s: DataFrame, t: DataFrame, theta: Theta): DataFrame =
    tileJoin(s, n => col("s_" + n), t, n => col("t_" + n), theta, "tile")

  /** Tile cover: `side` with one row per θ-tile its envelope covers,
    * the tile id in column `tile`. `env` maps `minx`, `miny`, `maxx`
    * and `maxy` to the side's envelope columns. */
  private[graft] def explodeTiles(side: DataFrame, env: String => Column,
                                  theta: Theta, tile: String): DataFrame =
    side.withColumn(tile, explode(tile_cover(env("minx"), env("miny"),
      env("maxx"), env("maxy"), theta.x, theta.y)))

  /** Candidate pairs of two [[explodeTiles]] outputs: the equi-join on
    * `tile`, the MBR filter and the reference-point dedup; `sEnv` and
    * `tEnv` name each side's envelope columns, and `tile` is dropped. */
  private[graft] def tileJoin(s: DataFrame, sEnv: String => Column,
                              t: DataFrame, tEnv: String => Column,
                              theta: Theta, tile: String): DataFrame = {
    val mbrIntersects =
      sEnv("minx") <= tEnv("maxx") && sEnv("maxx") >= tEnv("minx") &&
      sEnv("miny") <= tEnv("maxy") && sEnv("maxy") >= tEnv("miny")
    // Reference point = top-left corner of the MBR intersection; its
    // tile is computed with the same floor(c/θ) as tile_cover, so the
    // pair passes in exactly one of its common tiles.
    val refTx = floor(greatest(sEnv("minx"), tEnv("minx")) / theta.x).cast("long")
    val refTy = floor(greatest(sEnv("miny"), tEnv("miny")) / theta.y).cast("long")
    val refTile = shiftleft(refTx, 32).bitwiseOR(refTy.bitwiseAND(lit(0xFFFFFFFFL)))
    s.join(t, tile)
      .filter(mbrIntersects && col(tile) === refTile)
      .drop(tile)
  }

  /** [[candidatePairsNarrow]] with a tile-key runtime filter — q20's
    * bloom composed into the spatial exchange (round-8 verdict item):
    * when the SOURCE is much smaller than the target but too large (or
    * too blob-heavy) to broadcast, build a
    * [[graft.functions.BloomFunctions]] membership sketch over the
    * source's OCCUPIED θ-tile keys (one small-side aggregation job,
    * O(bits) result shipped as a plan constant) and prune the target's
    * exploded tile rows BEFORE their exchange: a tile no source row
    * covers cannot produce a candidate pair, so (1 − source tile
    * occupancy) of the big side's post-explode shuffle volume never
    * moves. False positives (fpp 1 %) only re-admit rows the tile
    * equi-join drops anyway — the pair set is EXACTLY
    * [[candidatePairsNarrow]]'s (spec-asserted pair-for-pair, and sp17
    * hash-gates the composed join; the exchange cut is asserted from
    * the executed plan's SQL metrics like q20's). */
  def candidatePairsNarrowPruned(source: DataFrame, target: DataFrame,
                                 theta: Theta): DataFrame = {
    import graft.functions.BloomFunctions
    val s = tiled(source, "s_", theta)
    // expectedItems sizes the bloom: source rows × the 3×3-ish tile
    // cover a θ-scaled envelope typically spans, from the CHEAP
    // un-exploded count (column-pruned scan / metadata) — counting the
    // exploded tiling would run the explode a third time for a number
    // whose only job is bit-sizing, and overestimating merely widens
    // the filter. The tiled source is still computed twice (the bloom
    // build aggregation and the pair join) — both are necessary scans.
    val bits = BloomFunctions.buildLongFilter(s.select(col("tile")), "tile",
      source.count() * 9, 0.01)
    val t = tiled(target, "t_", theta)
      .filter(BloomFunctions.mightContainLong(col("tile"), bits))
    pairJoinTail(s, t, theta)
  }

  /** [[relate]] over the tile-bloom-pruned candidate path — the
    * asymmetric big×big spatial join shape (see
    * [[candidatePairsNarrowPruned]]). */
  def relateBloomPruned(source: DataFrame, target: DataFrame,
                        relation: String): DataFrame = {
    val theta = computeTheta(source)
    qualifying(withGeoms(candidatePairsNarrowPruned(source, target, theta),
      source, target), relation)
  }

  /** Candidate pairs after the tile cover, MBR filter and
    * reference-point dedup. Output: s_* and t_* columns, one row per
    * qualifying pair, both geometries included. Entity ids must be
    * unique per side (the engine-wide contract, like the reference's
    * originalID).
    *
    * The target is probed as an index ([[TileProbe]]). Building the
    * frame runs no job over the target; executing it does: one job
    * collects the target's rows, measuring their bytes and θ-tile
    * entries as it goes, and if the index fits in
    * [[TargetTiles.maxBytes]] (256 MB, less under a small
    * `spark.driver.maxResultSize`) the rows go out as one broadcast and
    * each executor builds a θ-tile → target table over them once
    * ([[TargetTiles]], the reference's `SpatialIndex`). One pass over
    * the source then looks up each row's covered tiles and emits the
    * pairs that pass [[tileJoin]]'s MBR and reference-point tests, with
    * `s_geom` and `t_geom` already in the row: no tile rows move and
    * nothing is joined back. A source that reads as fewer than
    * defaultParallelism partitions is spread first
    * ([[graft.spark.Spread]]), so verification runs on every core. A
    * target whose index does not fit runs [[tileJoinPairs]] instead,
    * decided per execution from the measured bytes, never from
    * Catalyst's estimate (a WKB column is costed at 100 B a row).
    * Measured against the tile join (`linkbench/ab.py --pairs 10`,
    * seeds 11000–11009, 4 vCPUs): warm_s gia_boxes 0.594 → 0.371 s and
    * gia_giant 0.381 → 0.264 s, each 10/10; traced, 4 → 3 Spark jobs
    * per repetition. */
  def candidatePairs(source: DataFrame, target: DataFrame,
                     theta: Theta): DataFrame =
    candidatePairs(source, target, theta,
      TargetTiles.maxBytes(source.sparkSession.sparkContext))

  /** [[candidatePairs]] with the index bound `maxBytes`. */
  private[graft] def candidatePairs(source: DataFrame, target: DataFrame,
                                    theta: Theta, maxBytes: Long): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.dataFrame
    TileProbeStrategy.register(source.sparkSession)
    val s = prefixed(graft.spark.Spread(source), "s_").queryExecution.analyzed
    val t = prefixed(target, "t_").queryExecution.analyzed
    def env(side: LogicalPlan, p: String): Seq[Attribute] =
      Seq("minx", "miny", "maxx", "maxy").map(n => side.output.find(_.name == p + n).get)
    dataFrame(source.sparkSession, TileProbe(s, t, env(s, "s_"), env(t, "t_"), theta, maxBytes,
      () => tileJoinPairs(source, target, theta)))
  }

  /** The tile-join path of [[candidatePairs]], which [[TileProbeExec]]
    * runs when the target's index does not fit its bound: the tile
    * equi-join of both exploded sides, then the geometry join-backs.
    * Placement, ride and the measurements below predate the index
    * path; no workload reaches this path today.
    *
    * Verification placement follows one observable rule: when an input
    * reads as fewer than defaultParallelism partitions
    * ([[graft.spark.Spread.isSpread]], the test Spread applies to
    * scans), the NARROW pair frame is hash-spread on s_id over an
    * EXPLICIT defaultParallelism partition count before the blob
    * joins; otherwise verification stays in place. Explicit because a
    * count-less repartition is REPARTITION_BY_COL, which AQE coalesces
    * by BYTES — ~50 B/pair kept the whole exchange under one 64 KiB
    * floor partition and ran verification serially. A user-specified
    * count is exempt from AQE coalescing, rows are narrow (billions of
    * pairs over total-cores partitions stay ~100 MB-sized), and a
    * sort-merge blob join REUSES the s_id hash partitioning.
    *
    * Measured with the spread forced on every call (4 cores, sf0.1
    * gate corpora read as 1 partition, the linkbench inputs as 4),
    * before the index path existed: sp10 5.7 → 2.1 s, sp8 1.7 → 1.1 s,
    * sp11 2.3 → 1.3 s; the cheap single-partition gates (sp1–sp7,
    * sp12, sp18, sp19) within noise; linkbench gia_giant warm_s
    * 1.34 → 1.85 s (verification already ran on every core, the extra
    * exchange only cost) and gia_boxes within noise. The partition
    * count separates every case that gained from every case that lost.
    *
    * Where verification stays in place and [[Theta.ride]] holds (the
    * source bytes after the explode bound at Σb·(ex/θx + 2)(ey/θy + 2)
    * ≤ 16·Σb, see [[computeTheta]]), the source geometry rides the
    * tile join as `s_geom` and only `t_geom` is joined back: the s_id
    * join-back would shuffle the whole source geometry column a second
    * time (gia_boxes: 159,666 rows, 7.1 MB), only for AQE to broadcast
    * the pairs instead. Measured with `linkbench/ab.py --pairs 10`
    * (seeds 1000–1009, 4 vCPUs, together with θ's single job, before
    * the index path took those workloads): warm_s gia_boxes
    * 0.95 → 0.66 s and gia_giant 0.47 → 0.39 s, each 10/10; traced
    * gia_boxes shuffle writes 7.8 → 0 MB. A spread placement keeps
    * both join-backs: its exchange must stay narrow. */
  private[graft] def tileJoinPairs(source: DataFrame, target: DataFrame,
                                   theta: Theta): DataFrame = {
    val inPlace = Seq(source, target).forall(graft.spark.Spread.isSpread)
    if (inPlace && theta.ride)
      withGeom(pairJoinTail(tiled(source, "s_", theta, geom = true),
        tiled(target, "t_", theta), theta), target, "t_")
    else {
      val narrow = candidatePairsNarrow(source, target, theta)
      val placed =
        if (inPlace) narrow
        else narrow.repartition(
          source.sparkSession.sparkContext.defaultParallelism, col("s_id"))
      withGeoms(placed, source, target)
    }
  }

  /** Join the WKB blobs back onto narrow (s_id, t_id, ...) pairs. */
  private def withGeoms(pairs: DataFrame, source: DataFrame,
                        target: DataFrame): DataFrame =
    withGeom(withGeom(pairs, source, "s_"), target, "t_")

  /** Join one side's WKB blob back onto the pairs on its `p`-prefixed id. */
  private def withGeom(pairs: DataFrame, side: DataFrame, p: String): DataFrame =
    pairs.join(side.select(col("id").as(p + "id"), col("geom").as(p + "geom")), p + "id")

  /** (s_id, t_id) of the pairs whose geometries satisfy `relation`. */
  private def qualifying(pairs: DataFrame, relation: String): DataFrame =
    pairs.filter(st_predicate(col("s_geom"), col("t_geom"), relation))
      .select(col("s_id"), col("t_id"))

  /** Ids plus the DE-9IM struct `im` (string + relation booleans)
    * flattened into columns. */
  private def imRows(pairs: DataFrame, im: Column): DataFrame =
    pairs.withColumn("im", im).select(col("s_id"), col("t_id"), col("im.*"))

  /** Holistic DE-9IM: verify every candidate pair once; emit ids, the
    * DE-9IM string, and the ten relation booleans. Matches GIA.nt
    * semantics: only MBR-intersecting pairs are verified
    * (`linkers/GIAnt.scala:32-37`).
    *
    * Verification is ADAPTIVE (identical results, spec-asserted):
    * analytic interval IM for rectangle pairs, the larger operand's
    * per-thread prepared RelateNG for polygon pairs of at least
    * `minPoints` points, plain JTS relate otherwise — rectangle-heavy
    * workloads skip JTS entirely. `granularity` is [[computeTheta]]'s
    * statistic. */
  def de9im(source: DataFrame, target: DataFrame, granularity: String = "avg",
            minPoints: Int = StIm.MinPoints): DataFrame = {
    val theta = computeTheta(source, granularity)
    imRows(candidatePairs(source, target, theta),
      st_im(col("s_geom"), col("t_geom"), minPoints))
  }

  /** Single-relation spatial join (DS-JedAI `SpatialJoinExp`): emit
    * qualifying (s_id, t_id) pairs only. */
  def relate(source: DataFrame, target: DataFrame, relation: String,
             granularity: String = "avg"): DataFrame = {
    val theta = computeTheta(source, granularity)
    qualifying(candidatePairs(source, target, theta), relation)
  }

  /** Overlay MEASURE aggregation: per target entity, the number of
    * intersecting source entities and the TOTAL intersection area —
    * "how much of each zone is covered", the quantitative question the
    * boolean join family (relate/de9im) cannot answer. Runs the same
    * θ-tile candidate pipeline, then one JTS set-intersection per
    * verified pair ([[graft.functions.StIntersectionArea]]) feeding a
    * plain partial-aggregated sum on the target key — per-pair work
    * stays where the pair is, only (t_id, area) rows shuffle.
    *
    * `integerAreas = true` asserts the corpus contract that every
    * per-pair area is an exact integer (integer-coordinate rectangle
    * operands): areas then sum as longs, which makes the distributed
    * aggregation order-free and therefore bit-exact against any
    * engine — a double sum would be partition-order dependent. The
    * general-geometry path (false) sums doubles and is exact only up
    * to summation order. */
  def overlayArea(source: DataFrame, target: DataFrame,
                  granularity: String = "avg",
                  integerAreas: Boolean = false): DataFrame = {
    val theta = computeTheta(source, granularity)
    val perPair = candidatePairs(source, target, theta)
      .filter(st_predicate(col("s_geom"), col("t_geom"), "intersects"))
      .select(col("t_id"),
        st_intersection_area(col("s_geom"), col("t_geom")).as("area"))
    val total =
      if (integerAreas) sum(col("area").cast("long"))
      else sum(col("area"))
    perPair.groupBy(col("t_id"))
      .agg(count(lit(1)).as("n_pairs"), total.as("overlap_area"))
  }

  /** DE-9IM with the fine-grained-envelope candidate filter (reference
    * FINEGRAINED_ENVELOPES approximation): pairs additionally need at
    * least one intersecting sub-envelope pair. Strictly fewer
    * verifications than the MBR path; every non-disjoint pair is
    * preserved (sub-envelopes cover the geometry). */
  def de9imFineGrained(source: DataFrame, target: DataFrame,
                       maxEnvs: Int = 16,
                       granularity: String = "avg"): DataFrame = {
    val theta = computeTheta(source, granularity)
    val s = source.withColumn("envs",
      barrier(st_fine_envelopes(col("geom"), theta.x, maxEnvs)))
    val t = target.withColumn("envs",
      barrier(st_fine_envelopes(col("geom"), theta.x, maxEnvs)))
    val anySubEnvIntersects = exists(col("s_envs"), se =>
      exists(col("t_envs"), te =>
        se.getField("minx") <= te.getField("maxx") &&
        se.getField("maxx") >= te.getField("minx") &&
        se.getField("miny") <= te.getField("maxy") &&
        se.getField("maxy") >= te.getField("miny")))
    imRows(candidatePairs(s, t, theta).filter(anySubEnvIntersects),
      st_im(col("s_geom"), col("t_geom")))
  }

  /** Count candidate pairs without verifying (reference J9). A count
    * needs no geometry, so this goes through the narrow pair frame —
    * no WKB join-backs in the plan. */
  def countVerifications(source: DataFrame, target: DataFrame,
                         granularity: String = "avg"): Long = {
    val theta = computeTheta(source, granularity)
    candidatePairsNarrow(source, target, theta).count()
  }

  /** Per-partition A6 diagnostics row (reference `executionStats`,
    * `DistributedInterlinking.scala:121-155`: pid, verifications,
    * heaviest geometry, wall time per partition). `maxGeomBytes`
    * stands in for the reference's max point count — WKB size is
    * proportional to it (16 B/vertex) and needs no parse. */
  case class PartitionStats(verifications: Long, wallMillis: Double,
                            maxGeomBytes: Int)

  /** Per-partition verification diagnostics (reference A6): run the
    * DE-9IM join while recording, per Spark partition, the
    * verification count, the wall-clock time from first candidate to
    * exhaustion (the verification loop is pipelined behind this
    * iterator, so elapsed ≈ the partition's verify time — the
    * reference brackets its GIAnt loop the same way), and the largest
    * geometry blob. Exposes verification-cost skew that byte metrics
    * miss. */
  def de9imWithStats(source: DataFrame,
                     target: DataFrame): (DataFrame, Map[Int, PartitionStats]) = {
    val theta = computeTheta(source)
    val acc = source.sparkSession.sparkContext
      .collectionAccumulator[(Int, Long, Double, Int)]("graft.partitionStats")
    val cands = candidatePairs(source, target, theta)
    val counted = cands.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val t0 = System.nanoTime()
      new Iterator[org.apache.spark.sql.Row] {
        private var n = 0L
        private var maxB = 0
        private var si = -1
        private var ti = -1
        private var flushed = false
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !flushed) {
            acc.add((pid, n, (System.nanoTime() - t0) / 1e6, maxB))
            flushed = true
          }
          h
        }
        def next(): org.apache.spark.sql.Row = {
          val r = it.next()
          if (si < 0) { si = r.fieldIndex("s_geom"); ti = r.fieldIndex("t_geom") }
          maxB = math.max(maxB, math.max(
            r.getAs[Array[Byte]](si).length, r.getAs[Array[Byte]](ti).length))
          n += 1
          r
        }
      }
    }(org.apache.spark.sql.Encoders.row(cands.schema))
    val result = imRows(counted, st_im(col("s_geom"), col("t_geom")))
    result.count() // materialize so the accumulator is populated
    import scala.jdk.CollectionConverters._
    val stats = acc.value.asScala.groupBy(_._1).view.mapValues { rows =>
      PartitionStats(rows.map(_._2).sum, rows.map(_._3).max, rows.map(_._4).max)
    }.toMap
    (result, stats)
  }

  /** Spatio-temporal single-relation join — the reference's
    * SpatioTemporalEntity semantics (DS-JedAI
    * `model/entities/SpatioTemporalEntity.scala:18-28`): a pair
    * qualifies only when the dates are within `maxDays` days
    * (exclusive) AND the spatial relation holds. Both entity inputs
    * must carry a `ts` date column (via `entities(.., "ts" -> col)`).
    * The temporal predicate is applied BEFORE verification, like the
    * reference's approximateIntersection composition — a band/as-of
    * join in relational terms. */
  def temporalRelate(source: DataFrame, target: DataFrame, relation: String,
                     maxDays: Int = 2,
                     granularity: String = "avg"): DataFrame = {
    val theta = computeTheta(source, granularity)
    qualifying(candidatePairs(source, target, theta)
      .filter(abs(datediff(col("s_ts"), col("t_ts"))) < maxDays), relation)
  }

  /** The reference's headline output: total verifications, qualifying
    * pairs (geometries that actually intersect), and per-relation counts
    * (DS-JedAI `DistributedInterlinking.scala:84-118` `accumulate`).
    * Partial aggregation is map-side via Catalyst — the treeReduce of
    * the reference comes free. */
  def relationCounts(source: DataFrame, target: DataFrame,
                     granularity: String = "avg"): DataFrame = {
    val ims = de9im(source, target, granularity)
    def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(c)
    ims.agg(
      count(lit(1)).as("verifications"),
      cnt("intersects"), cnt("contains"), cnt("within"), cnt("covers"),
      cnt("coveredby"), cnt("crosses"), cnt("overlaps"), cnt("touches"),
      cnt("equals"))
  }
}
