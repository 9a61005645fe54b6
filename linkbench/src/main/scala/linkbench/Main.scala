package linkbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.GeomFunctions.tile_cover
import graft.operators.{Progressive, Ranks, SpatialJoin}
import graft.sources.SpatialIO

/** One benchmark run: set up a workload's corpus, time the engine on
  * it, check the results and write one JSON record.
  *
  * {{{
  * linkbench.Main --workload gia_boxes --seed 1 --seconds 12 --trace 0 \
  *   --cores 4 --work <scratch dir> --out <record.json>
  * }}}
  *
  * `--trace 0` measures the end-to-end metrics with nothing attached to
  * the session. `--trace 1` registers a SparkListener, reads SQL
  * metrics from executed plans and times the layers by calling their
  * public functions one prefix at a time; it reports the per-layer
  * metrics. Usually started by `run.py`, which builds the classpath. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: Path, out: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, Paths.get(need("work")),
      Paths.get(need("out")))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.byName(o.workload).getOrElse {
      System.err.println(s"unknown workload: ${o.workload}"); sys.exit(2)
    }
    val run = new Run(w, o)
    val record = run.execute()
    Files.createDirectories(o.out.toAbsolutePath.getParent)
    Files.writeString(o.out, record)
    sys.exit(if (run.failed == 0) 0 else 1)
  }
}

final class Run(w: Workload, o: Main.Opts) {
  import Run._

  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private val stamp = mutable.LinkedHashMap.empty[String, Any]

  private def check(what: String, ok: Boolean, info: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      val msg = s"$what: $info"
      failures += msg
      System.err.println(s"[linkbench] check failed: $msg")
    }
  }

  private def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  private def timing(name: String, xs: Seq[Double]): Double = {
    samples(name) = xs
    Stats.median(xs)
  }

  private var spark: SparkSession = _
  private var src: DataFrame = _
  private var tgt: DataFrame = _
  private var corpus: Corpus = _

  private def session(): SparkSession = {
    val s = graft.spark.SessionTuning(SparkSession.builder())
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Writes a side as [[InputParts]] tab-separated part files, row i
    * to part i mod [[InputParts]], and returns their directory. */
  private def writeSide(name: String, side: Side): String = {
    val dir = o.work.resolve(name)
    Files.createDirectories(dir)
    val outs = (0 until InputParts).map(k =>
      Files.newBufferedWriter(dir.resolve(f"part-$k%02d.tsv")))
    try for (i <- 0 until side.size) {
      val out = outs(i % InputParts)
      out.write(side.ids(i)); out.write('\t'); out.write(side.wkt(i)); out.write('\n')
    } finally outs.foreach(_.close())
    dir.toString
  }

  /** Session start, corpus generation, WKT write, read + parse, persist
    * and count — repeated [[SetupReps]] times; the last session stays
    * up for the measurement. Returns the seconds of each of those
    * parts, in the order of [[SetupParts]]. */
  private def setupOnce(i: Int): Seq[Double] = {
    if (spark != null) { spark.catalog.clearCache(); spark.stop() }
    val t0 = System.nanoTime()
    spark = session()
    val tSession = System.nanoTime()
    corpus = w.generate(o.seed)
    val tGen = System.nanoTime()
    val sp = writeSide("source", corpus.source)
    val tp = writeSide("target", corpus.target)
    val t1 = System.nanoTime()
    src = SpatialIO.readDelimitedWkt(spark, sp, 0, 1, "\t")
      .persist(StorageLevel.MEMORY_AND_DISK)
    tgt = SpatialIO.readDelimitedWkt(spark, tp, 0, 1, "\t")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ns = src.count()
    val nt = tgt.count()
    val t2 = System.nanoTime()
    check(s"setup $i: source rows kept", ns == corpus.source.validCount,
      s"engine $ns, generator ${corpus.source.validCount}")
    check(s"setup $i: target rows kept", nt == corpus.target.validCount,
      s"engine $nt, generator ${corpus.target.validCount}")
    Seq(tSession - t0, tGen - tSession, t1 - tGen, t2 - t1).map(_ / 1e9)
  }

  /** One closed-loop repetition of the workload's query, GIA.nt over
    * the whole corpus, fully materialized. Returns its row count, which
    * must repeat exactly. */
  private def rep(): Long = rows(SpatialJoin.de9im(src, tgt))

  /** A repetition's wall seconds, process CPU seconds and row count. */
  private def timedRep(): (Double, Double, Long) = {
    val c0 = processCpuS()
    val (wall, n) = timed(rep())
    attempted += 1
    (wall, processCpuS() - c0, n)
  }

  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private var phaseStart = System.nanoTime()
  /** Wall time since the previous phase ended, recorded under `name`. */
  private def phase(name: String): Unit = {
    val now = System.nanoTime()
    phases(name) = (now - phaseStart) / 1e9
    phaseStart = now
  }

  def execute(): String = {
    stamp("load_start") = loadavg()
    val ticks0 = cpuTicks()
    phases("jvm_start") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    phaseStart = System.nanoTime()
    try {
      val setups = (0 until SetupReps).map(setupOnce)
      stamp("setup_parts_s") = setups.map(SetupParts.zip(_).toMap)
      phase("setup")
      val listener = if (o.trace) {
        val l = new StageListener(spark.sparkContext)
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None
      val (coldS, _, n0) = timedRep()
      phase("cold")
      // discarded: the JIT is still compiling the hot paths. A count,
      // so a busy host does not also leave the code less compiled when
      // the measurement starts, within a time limit that keeps the run
      // short
      val warmup = repeat(w.warmupReps, 0, MaxWarmupSeconds)(timedRep())
      stamp("warmup_reps") = warmup.size
      check("counts repeat in warm-up", warmup.forall(_._3 == n0),
        s"cold $n0, warm-up ${warmup.map(_._3).mkString(" ")}")
      phase("warmup")
      // start the measurement from a collected heap, not one the
      // warm-up left half full
      System.gc()
      // built after the measurement, so its garbage is not collected
      // inside it
      lazy val bf = new BruteForce(corpus)
      lazy val ids = bf.sample(o.seed + 1, SampleSize)
      listener match {
        case None =>
          val warm = repeat(MinReps, o.seconds)(timedRep())
          phase("warm")
          stamp("sample_ids") = ids.size
          check("counts repeat across repetitions", warm.forall(_._3 == n0),
            s"cold $n0, warm ${warm.map(_._3).distinct.mkString(" ")}")
          val warmS = timing("warm_s", warm.map(_._1))
          metric("setup_s", timing("setup_s", setups.map(_.sum)), "s")
          metric("cold_s", coldS, "s")
          metric("warm_s", warmS, "s")
          metric("warm_cpu_s", timing("warm_cpu_s", warm.map(_._2)), "s")
          metric("verified_per_s", n0 / warmS, "pairs/s")
          metric("recall", giaChecks(bf, ids), "ratio")
          metric("cache_mb", cacheMb(), "MB")
          phase("checks")
        case Some(l) =>
          metric("sources.read_s", timing("sources.read_s", setups.map(_.last)), "s")
          metric("sources.rows_in", (corpus.source.size + corpus.target.size).toDouble, "count")
          metric("sources.rows_kept", (src.count() + tgt.count()).toDouble, "count")
          layers(l, n0, bf, ids)
          stamp("sample_ids") = ids.size
          phase("layers_and_checks")
      }
    } catch {
      case e: Throwable =>
        // the operation that threw counts as attempted and failed
        attempted += 1; failed += 1; failures += e.toString
        e.printStackTrace()
    } finally {
      stamp("load_end") = loadavg()
      val ticks1 = cpuTicks()
      // share of the host's CPU time the hypervisor gave to other guests
      stamp("steal_frac") =
        (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
      if (spark != null) { spark.catalog.clearCache(); spark.stop() }
      phase("stop")
    }
    stamp("phase_s") = phases
    record()
  }

  /** Repeat `f` for `seconds`, at least `min` times, but stop after
    * `cap` seconds once it has run twice. */
  private def repeat[T](min: Int, seconds: Double, cap: Double = Double.MaxValue)
                       (f: => T): Seq[T] = {
    val t0 = System.nanoTime()
    def past(s: Double) = System.nanoTime() - t0 >= s * 1e9
    val out = mutable.ArrayBuffer.empty[T]
    while ((out.size < min && (out.size < 2 || !past(cap))) ||
           (!past(seconds) && out.size < MaxReps)) out += f
    out.toSeq
  }

  private def cacheMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** GIA.nt against brute force on the sampled source ids: the engine's
    * rows must match pair for pair, DE-9IM string included. Returns the
    * share of brute-force qualifying pairs the engine reports right. */
  private def giaChecks(bf: BruteForce, ids: Seq[String]): Double = {
    val expected = bf.relations(ids)
    val qualifying = expected.filter(_._2 != Disjoint).keySet
    val got = SpatialJoin.de9im(src, tgt)
      .filter(col("s_id").isin(ids: _*))
      .select(col("s_id"), col("t_id"), col("de9im")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val wrong = (expected.keySet ++ got.keySet).count(k => expected.get(k) != got.get(k))
    check("sampled DE-9IM rows match brute-force JTS", wrong == 0,
      s"$wrong of ${expected.size} sampled pairs differ")
    stamp("sample_pairs") = expected.size
    if (qualifying.isEmpty) 1.0
    else qualifying.count(k => got.get(k) == expected.get(k)).toDouble / qualifying.size
  }

  /** The progressive linker's output against its contract and brute
    * force. Returns (qualifying in the budget, recall, PGR). */
  private def progressiveChecks(bf: BruteForce, ids: Seq[String], verified: Seq[Verified],
                                curve: Seq[(Long, Long)], candidates: Long): (Long, Double, Double) = {
    val expected = bf.relations(ids)
    val expectedQualifying = expected.filter(_._2 != Disjoint).keySet
    val n = verified.length
    check("verified = min(budget, candidates)", n == math.min(w.budget.toLong, candidates),
      s"verified $n, budget ${w.budget}, candidates $candidates")
    check("ranks are 1..verified", verified.map(_.rank) == (1L to n),
      s"first ranks ${verified.take(5).map(_.rank).mkString(",")}")
    val misordered = verified.sliding(2).count {
      case Seq(a, b) => a.weight < b.weight || (a.weight == b.weight &&
        (a.s > b.s || (a.s == b.s && a.t > b.t)))
      case _ => false
    }
    check("ranks follow weight, then id pair", misordered == 0, s"$misordered inversions")
    val idSet = ids.toSet
    val sampled = verified.filter(v => idSet.contains(v.s))
    val badQualifies = sampled.count(v =>
      !expected.get((v.s, v.t)).exists(im => (im != Disjoint) == v.qualifies))
    check("sampled budget verifications match brute-force JTS", badQualifies == 0,
      s"$badQualifies of ${sampled.length} differ")
    val relate = SpatialJoin.relate(src, tgt, "intersects")
    val allQualifying = rows(relate)
    val gotQualifying = relate.filter(col("s_id").isin(ids: _*)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    check("sampled qualifying pairs match brute-force JTS",
      gotQualifying == expectedQualifying,
      s"engine ${gotQualifying.size}, brute force ${expectedQualifying.size}")
    val qualifying = verified.count(_.qualifies).toLong
    val recall = if (allQualifying == 0) 0.0 else qualifying.toDouble / allQualifying
    check("recall <= 1", recall <= 1.0, s"recall $recall")
    check("PGR curve ends at the budget's qualifying pairs",
      curve.lastOption.contains((n.toLong, qualifying)),
      s"curve end ${curve.lastOption}, verified $n, qualifying $qualifying")
    stamp("progressive_all_qualifying") = allQualifying
    (qualifying, recall, Stats.pgr(curve, allQualifying))
  }

  private val LayerMetrics: Seq[(String, String)] = Seq(
    "spatialjoin.theta_s" -> "s", "spatialjoin.candidates_s" -> "s",
    "spatialjoin.tile_rows" -> "count", "spatialjoin.replication" -> "ratio",
    "spatialjoin.tile_join_rows" -> "count", "spatialjoin.candidates" -> "count",
    "spatialjoin.filter_keep" -> "ratio", "spatialjoin.joinback_s" -> "s",
    "spatialjoin.verify_s" -> "s", "spatialjoin.verifications" -> "count",
    "spatialjoin.qualifying" -> "count", "spatialjoin.precision" -> "ratio",
    "spatialjoin.verify_task_max_s" -> "s", "spatialjoin.verify_task_skew" -> "ratio",
    "progressive.weight_s" -> "s", "progressive.rank_s" -> "s",
    "progressive.budget_verify_s" -> "s", "progressive.pgr_s" -> "s",
    "progressive.verified" -> "count", "progressive.qualifying" -> "count",
    "progressive.recall" -> "ratio", "progressive.pgr" -> "ratio")

  /** The traced run. Per round: time each public layer call on its own
    * (self time = a call minus the prefix it contains), run one full
    * repetition inside a listener window, and, on a workload with a
    * budget, time the progressive linker's layers on the same corpus. */
  private def layers(l: StageListener, n0: Long, bf: => BruteForce,
                     ids: => Seq[String]): Unit = {
    LayerMetrics.foreach { case (n, u) => metric(n, 0.0, u) }
    val ordering = Seq(col(Weight).desc, col("s_id").asc, col("t_id").asc)
    var tileRows = 0L
    var verified = Seq.empty[Verified]
    var curve = Seq.empty[(Long, Long)]
    val rounds = repeat(MinReps, o.seconds) {
      val (thetaS, theta) = timed(SpatialJoin.computeTheta(src))
      val narrowDf = SpatialJoin.candidatePairsNarrow(src, tgt, theta)
      val (narrowS, _) = timed(rows(narrowDf))
      tileRows = PlanMetrics.generatedRows(narrowDf.queryExecution.executedPlan)
      val split = mutable.LinkedHashMap("theta" -> thetaS, "narrow" -> narrowS)
      // only the columns verification reads, as inside de9im
      split("pairs") = timed(rows(SpatialJoin.candidatePairs(src, tgt, theta)
        .select(col("s_id"), col("t_id"), col("s_geom"), col("t_geom"))))._1
      l.reset()
      val (full, n) = timed(rep())
      val window = l.window(full, o.cores)
      check("traced counts repeat", n == n0, s"$n vs $n0")
      split("full") = full
      if (w.budget > 0) {
        val weighted = Progressive.withWeights(narrowDf, theta)
          .select(col("s_id"), col("t_id"), col(Weight))
        split("weights") = timed(rows(weighted))._1
        split("rank") = timed(rows(Ranks.withGlobalRank(weighted, ordering)
          .filter(col("rank") <= w.budget)))._1
        val (pvS, pv) = timed(Progressive.progressiveVerify(src, tgt, Weight, w.budget)
          .collect())
        split("progressive") = pvS
        verified = pv.map(r => Verified(r.getAs[Number]("rank").longValue,
          r.getAs[String]("s_id"), r.getAs[String]("t_id"), r.getAs[Double](Weight),
          r.getAs[Boolean]("qualifies"))).toSeq.sortBy(_.rank)
        val (pgrS, c) = timed(Progressive.pgrCurve(src, tgt, Weight, "intersects", w.budget)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
        split("pgr") = pgrS
        curve = c
      }
      (split.toMap, window)
    }
    def med(f: Map[String, Double] => Double, name: String): Double =
      timing(name, rounds.map(r => f(r._1)))
    giaChecks(bf, ids)
    val theta = SpatialJoin.computeTheta(src)
    val candidates = rows(SpatialJoin.candidatePairsNarrow(src, tgt, theta))
    val tileJoin = tileJoinRows(theta)
    val qualifying = rows(SpatialJoin.de9im(src, tgt).filter(col("intersects")))
    metric("spatialjoin.theta_s", med(_("theta"), "spatialjoin.theta_s"), "s")
    metric("spatialjoin.candidates_s", med(_("narrow"), "spatialjoin.candidates_s"), "s")
    metric("spatialjoin.tile_rows", tileRows.toDouble, "count")
    metric("spatialjoin.replication", tileRows.toDouble / (src.count() + tgt.count()), "ratio")
    metric("spatialjoin.tile_join_rows", tileJoin.toDouble, "count")
    metric("spatialjoin.candidates", candidates.toDouble, "count")
    metric("spatialjoin.filter_keep",
      if (tileJoin == 0) 0.0 else candidates.toDouble / tileJoin, "ratio")
    metric("spatialjoin.joinback_s",
      med(r => r("pairs") - r("narrow"), "spatialjoin.joinback_s"), "s")
    metric("spatialjoin.verify_s",
      med(r => r("full") - r("theta") - r("pairs"), "spatialjoin.verify_s"), "s")
    metric("spatialjoin.verifications", n0.toDouble, "count")
    metric("spatialjoin.qualifying", qualifying.toDouble, "count")
    metric("spatialjoin.precision", if (n0 == 0) 0.0 else qualifying.toDouble / n0, "ratio")
    val verifyTasks = rounds.map(_._2.resultStageTaskS)
    metric("spatialjoin.verify_task_max_s",
      timing("spatialjoin.verify_task_max_s", verifyTasks.map(t => (0.0 +: t).max)), "s")
    metric("spatialjoin.verify_task_skew", timing("spatialjoin.verify_task_skew",
      verifyTasks.map(t => if (t.isEmpty || Stats.median(t) == 0) 0.0 else t.max / Stats.median(t))),
      "ratio")
    if (w.budget > 0) {
      val (pq, pRecall, pgr) = progressiveChecks(bf, ids, verified, curve, candidates)
      metric("progressive.weight_s", med(r => r("weights") - r("narrow"), "progressive.weight_s"), "s")
      metric("progressive.rank_s", med(r => r("rank") - r("weights"), "progressive.rank_s"), "s")
      metric("progressive.budget_verify_s",
        med(r => r("progressive") - r("theta") - r("rank"), "progressive.budget_verify_s"), "s")
      metric("progressive.pgr_s", med(_("pgr"), "progressive.pgr_s"), "s")
      metric("progressive.verified", verified.length.toDouble, "count")
      metric("progressive.qualifying", pq.toDouble, "count")
      metric("progressive.recall", pRecall, "ratio")
      metric("progressive.pgr", pgr, "ratio")
    }
    val win = rounds.map(_._2)
    def wmed(name: String, unit: String)(f: Window => Double): Unit =
      metric(s"spark.$name", timing(s"spark.$name", win.map(f)), unit)
    wmed("jobs", "count")(_.jobs.toDouble)
    wmed("stages", "count")(_.stages.toDouble)
    wmed("tasks", "count")(_.tasks.toDouble)
    wmed("task_s", "s")(_.taskS)
    wmed("cpu_s", "s")(_.cpuS)
    wmed("gc_s", "s")(_.gcS)
    wmed("shuffle_write_mb", "MB")(_.shuffleWriteMb)
    wmed("shuffle_read_mb", "MB")(_.shuffleReadMb)
    wmed("fetch_wait_s", "s")(_.fetchWaitS)
    wmed("spill_mb", "MB")(_.spillMb)
    wmed("failed_tasks", "count")(_.failedTasks.toDouble)
    wmed("busy_frac", "ratio")(_.busyFrac)
    metric("traced.warm_s", med(_("full"), "traced.warm_s"), "s")
  }

  /** Rows of the tile equi-join before the MBR and reference-point
    * filters: the sum over tiles of source rows × target rows. The
    * engine fuses those filters into the join, so its plan has no node
    * whose row count is this number. */
  private def tileJoinRows(theta: SpatialJoin.Theta): Long = {
    def perTile(df: DataFrame, c: String) =
      df.select(explode(tile_cover(col("minx"), col("miny"), col("maxx"), col("maxy"),
        theta.x, theta.y)).as("tile")).groupBy("tile").agg(count(lit(1)).as(c))
    val r = perTile(src, "ns").join(perTile(tgt, "nt"), "tile")
      .agg(sum(col("ns") * col("nt"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  private def record(): String = {
    val rt = Runtime.getRuntime
    stamp ++= Seq(
      "workload" -> w.name, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> (if (o.trace) 1 else 0), "cores" -> o.cores,
      "nproc" -> rt.availableProcessors(), "heap_max_mb" -> rt.maxMemory() / (1 << 20),
      "host" -> hostName(), "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version"),
      "setup_reps" -> SetupReps)
    if (corpus != null) stamp ++= Seq(
      "source_rows" -> corpus.source.size, "source_valid" -> corpus.source.validCount,
      "target_rows" -> corpus.target.size, "target_valid" -> corpus.target.validCount,
      "budget" -> w.budget)
    Json(mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) },
      "samples" -> samples.map { case (k, xs) =>
        val (q1, q2, q3) = Stats.quartiles(xs)
        k -> mutable.LinkedHashMap[String, Any](
          "n" -> xs.size, "q1" -> q1, "median" -> q2, "q3" -> q3, "values" -> xs) },
      "failures" -> failures.toSeq,
      "stamp" -> stamp))
  }
}

object Run {
  /** One row of the progressive linker's budgeted output. */
  final case class Verified(rank: Long, s: String, t: String, weight: Double,
                            qualifies: Boolean)

  val Weight = "w_js"
  val SetupReps = 3
  val SetupParts = Seq("session", "generate", "write", "read")
  /** Upper limit of the warm-up on a slow host. */
  val MaxWarmupSeconds = 16.0
  /** Part files per corpus side, so small inputs still read as
    * several partitions. */
  val InputParts = 16
  val MinReps = 3
  val MaxReps = 200
  val SampleSize = 1000
  /** DE-9IM of two geometries whose interiors and boundaries meet
    * nowhere (JTS `IntersectionMatrix.toString` for areal operands). */
  val Disjoint = "FF2FF1212"

  def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** (steal ticks, all ticks) from the `cpu` line of /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Exception => "" }

  def hostName(): String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "" }
}

/** Minimal JSON writer for the result record. */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
