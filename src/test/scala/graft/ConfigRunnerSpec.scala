package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.api.ConfigRunner

class ConfigRunnerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  test("yaml-configured end-to-end job: csv sources through DE9IM and " +
       "progressive algorithms") {
    val dir = Files.createTempDirectory("cfgrun")
    val srcCsv = dir.resolve("src.csv")
    val tgtCsv = dir.resolve("tgt.csv")
    Files.writeString(srcCsv, TestGeoms.corpus(seed = 1, n = 40, world = 30)
      .map { case (id, wkt) => s"""$id;"$wkt"""" }.mkString("\n"))
    Files.writeString(tgtCsv, TestGeoms.corpus(seed = 2, n = 30, world = 30)
      .map { case (id, wkt) => s"""$id;"$wkt"""" }.mkString("\n"))
    def conf(alg: String, rel: String) = ConfigRunner.jobConf(ConfigRunner.parseYaml(
      s"""source:
         |  path: $srcCsv
         |  realIdField: 0
         |  geometryField: 1
         |  delimiter: ;
         |target:
         |  path: $tgtCsv
         |  realIdField: 0
         |  geometryField: 1
         |  delimiter: ;
         |relation: $rel
         |configurations:
         |  progressiveAlgorithm: $alg
         |  budget: 1000
         |  mainWF: JS
         |""".stripMargin))

    val batch = ConfigRunner.run(spark, conf("GIANT", "intersects")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(batch.nonEmpty)

    val de9im = ConfigRunner.run(spark, conf("GIANT", "DE9IM"))
    assert(de9im.columns.contains("de9im") && de9im.count() > 0)

    val prog = ConfigRunner.run(spark, conf("PROGRESSIVE_GIANT", "intersects"))
    assert(prog.count() > 0)

    // temporal job: dates 10 days apart on half the rows -> the ±2-day
    // filter must drop cross-half pairs
    val srcT = dir.resolve("srcT.csv")
    val tgtT = dir.resolve("tgtT.csv")
    def withDates(rows: Seq[(String, String)]) = rows.zipWithIndex.map {
      case ((id, wkt), i) =>
        val day = if (i % 2 == 0) "2020-01-01" else "2020-01-11"
        s"""$id;"$wkt";$day 00:00:00"""
    }
    Files.writeString(srcT, withDates(TestGeoms.corpus(seed = 1, n = 40, world = 30))
      .mkString("\n"))
    Files.writeString(tgtT, withDates(TestGeoms.corpus(seed = 2, n = 30, world = 30))
      .mkString("\n"))
    val tempConf = ConfigRunner.jobConf(ConfigRunner.parseYaml(
      s"""source:
         |  path: $srcT
         |  realIdField: 0
         |  geometryField: 1
         |  dateField: 2
         |  delimiter: ;
         |target:
         |  path: $tgtT
         |  realIdField: 0
         |  geometryField: 1
         |  dateField: 2
         |  delimiter: ;
         |relation: intersects
         |configurations:
         |  progressiveAlgorithm: GIANT
         |""".stripMargin))
    val temporalPairs = ConfigRunner.run(spark, tempConf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(temporalPairs.subsetOf(batch))
    assert(temporalPairs.size < batch.size, "temporal filter must drop pairs")

    val dyn = ConfigRunner.run(spark, conf("DYNAMIC_PROGRESSIVE_GIANT", "intersects"))
      .collect()
    assert(dyn.map(r => (r.getAs[String]("s_id"), r.getAs[String]("t_id"))).toSet
      .subsetOf(ConfigRunner.run(spark, conf("GIANT", "DE9IM"))
        .select("s_id", "t_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet))

    // all five reference weighting functions dispatch through the
    // config surface; with an exhaustive budget each yields the same
    // qualifying SET (only verification order differs)
    def confWf(wf: String) = ConfigRunner.jobConf(ConfigRunner.parseYaml(
      s"""source:
         |  path: $srcCsv
         |  realIdField: 0
         |  geometryField: 1
         |  delimiter: ;
         |target:
         |  path: $tgtCsv
         |  realIdField: 0
         |  geometryField: 1
         |  delimiter: ;
         |relation: intersects
         |configurations:
         |  progressiveAlgorithm: PROGRESSIVE_GIANT
         |  budget: 1000000
         |  mainWF: $wf
         |""".stripMargin))
    assert(confWf("PEARSONS_X2").mainWF === "w_x2")
    assert(confWf("ISP").mainWF === "w_isp")
    val qualByWf = Seq("JS", "CF", "MBRO", "PEARSONS_X2", "ISP").map { wf =>
      ConfigRunner.run(spark, confWf(wf))
        .filter(org.apache.spark.sql.functions.col("qualifies"))
        .select("s_id", "t_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    assert(qualByWf.head === batch)
    assert(qualByWf.forall(_ === batch))

    // EARLY_STOPPING with a NON-default main weight through the config
    // surface — regression for the missing-weight-column crash (CF
    // leaves only two lexicographic levels; the select must pad to
    // NarrowCand's three)
    val esConf = ConfigRunner.jobConf(ConfigRunner.parseYaml(
      s"""source:
         |  path: $srcCsv
         |  realIdField: 0
         |  geometryField: 1
         |  delimiter: ;
         |target:
         |  path: $tgtCsv
         |  realIdField: 0
         |  geometryField: 1
         |  delimiter: ;
         |relation: intersects
         |configurations:
         |  progressiveAlgorithm: EARLY_STOPPING
         |  mainWF: CF
         |""".stripMargin))
    val esQual = ConfigRunner.run(spark, esConf)
      .filter(org.apache.spark.sql.functions.col("qualifies"))
      .select("s_id", "t_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(esQual.nonEmpty && esQual.subsetOf(batch))
  }

  test("reference configurationTemplate.yaml parity: every template key " +
       "is honored or explicitly rejected") {
    // 1. the reference's OWN template file parses key for key
    //    (/root/reference/config/configurationTemplate.yaml:1-27)
    val template = java.nio.file.Files.readString(
      java.nio.file.Path.of("/root/reference/config/configurationTemplate.yaml"))
    val parsed = ConfigRunner.parseYaml(template)
    val expectedKeys = Seq(
      "source.path", "source.realIdField", "source.geometryField",
      "source.dateField", "source.datePattern",
      "target.path", "target.realIdField", "target.geometryField",
      "target.dateField", "target.datePattern",
      "relation",
      "configurations.partitions", "configurations.thetaGranularity",
      "configurations.gridType", "configurations.mainWF",
      "configurations.secondaryWF", "configurations.progressiveAlgorithm",
      "configurations.budget", "configurations.exportPath")
    val missing = expectedKeys.filterNot(parsed.contains)
    assert(missing.isEmpty, s"template keys the parser dropped: $missing")
  }

  test("every configuration key is honored end to end or explicitly " +
       "rejected") {
    // 2. a real config exercising every HONORED key end to end
    val dir = Files.createTempDirectory("cfgparity")
    val srcCsv = dir.resolve("src.csv")
    val tgtCsv = dir.resolve("tgt.csv")
    Files.writeString(srcCsv, TestGeoms.corpus(seed = 1, n = 40, world = 30)
      .map { case (id, wkt) => s"""$id;"$wkt"""" }.mkString("\n"))
    Files.writeString(tgtCsv, TestGeoms.corpus(seed = 2, n = 30, world = 30)
      .map { case (id, wkt) => s"""$id;"$wkt"""" }.mkString("\n"))
    def yamlConf(extra: String, rel: String = "intersects") =
      ConfigRunner.jobConf(ConfigRunner.parseYaml(
        s"""source:
           |  path: $srcCsv
           |  realIdField: 0
           |  geometryField: 1
           |  delimiter: ;
           |target:
           |  path: $tgtCsv
           |  realIdField: 0
           |  geometryField: 1
           |  delimiter: ;
           |relation: $rel
           |configurations:
           |$extra
           |""".stripMargin))
    val batch = ConfigRunner.run(spark,
      yamlConf("  progressiveAlgorithm: GIANT")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // partitions + thetaGranularity=avg + exportPath: the repartitioned
    // inputs must produce the identical pair set and the export must
    // land on disk
    val export = dir.resolve("out").toString
    val partConf = yamlConf(
      s"""  partitions: 6
         |  thetaGranularity: "avg"
         |  exportPath: $export""".stripMargin)
    assert(partConf.partitions.contains(6))
    val partPairs = ConfigRunner.run(spark, partConf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(partPairs === batch,
      "repartitioned inputs must equal the θ-tile pair set")
    assert(new java.io.File(export).exists, "exportPath not honored")
    // datePattern with the template's own example value
    // (yyyy-MM-dd'T'HH:mm:ss) parses through the temporal path
    val srcT = dir.resolve("srcT.csv")
    val tgtT = dir.resolve("tgtT.csv")
    def withIsoDates(rows: Seq[(String, String)]) = rows.zipWithIndex.map {
      case ((id, wkt), i) =>
        val day = if (i % 2 == 0) "2020-01-01" else "2020-01-11"
        s"""$id;"$wkt";${day}T00:00:00"""
    }
    Files.writeString(srcT,
      withIsoDates(TestGeoms.corpus(seed = 1, n = 40, world = 30)).mkString("\n"))
    Files.writeString(tgtT,
      withIsoDates(TestGeoms.corpus(seed = 2, n = 30, world = 30)).mkString("\n"))
    val isoConf = ConfigRunner.jobConf(ConfigRunner.parseYaml(
      s"""source:
         |  path: $srcT
         |  realIdField: 0
         |  geometryField: 1
         |  dateField: 2
         |  datePattern: "yyyy-MM-dd'T'HH:mm:ss"
         |  delimiter: ;
         |target:
         |  path: $tgtT
         |  realIdField: 0
         |  geometryField: 1
         |  dateField: 2
         |  datePattern: "yyyy-MM-dd'T'HH:mm:ss"
         |  delimiter: ;
         |relation: intersects
         |""".stripMargin))
    val isoPairs = ConfigRunner.run(spark, isoConf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(isoPairs.nonEmpty && isoPairs.subsetOf(batch) &&
      isoPairs.size < batch.size,
      "datePattern'd temporal job must parse and filter")
    // the template's fourth progressive algorithm: RANDOM — exhaustive
    // budget recovers the full qualifying set
    val randQual = ConfigRunner.run(spark, yamlConf(
      """  progressiveAlgorithm: RANDOM
        |  budget: 1000000""".stripMargin))
      .filter(org.apache.spark.sql.functions.col("qualifies"))
      .select("s_id", "t_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(randQual === batch, "RANDOM scheduling must verify the same set")

    // parquet-native WKB dataset: realIdField/geometryField are honored
    // as COLUMN INDICES (columns deliberately NOT named id/wkb, and the
    // geometry placed first so defaults would misread)
    val pq = dir.resolve("src_pq.parquet").toString
    import org.apache.spark.sql.functions.col
    graft.sources.SpatialIO.writeWkbParquet(
      graft.api.SpatialLink.entities(
        {
          import spark.implicits._
          TestGeoms.corpus(seed = 1, n = 40, world = 30).toDF("i", "wkt")
        }, col("i"), col("wkt")), pq)
    // writeWkbParquet emits (id, wkb); re-write shuffled column order
    val shuffled = spark.read.parquet(pq)
      .select(col("wkb").as("geo_bytes"), col("id").as("key"))
    val pq2 = dir.resolve("src_pq2.parquet").toString
    shuffled.write.mode("overwrite").parquet(pq2)
    val pqConf = ConfigRunner.jobConf(ConfigRunner.parseYaml(
      s"""source:
         |  path: $pq2
         |  realIdField: 1
         |  geometryField: 0
         |target:
         |  path: $tgtCsv
         |  realIdField: 0
         |  geometryField: 1
         |  delimiter: ;
         |relation: intersects
         |""".stripMargin))
    val pqPairs = ConfigRunner.run(spark, pqConf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pqPairs === batch,
      "parquet WKB source with index-addressed columns must equal the CSV run")

    // thetaGranularity: all five reference statistics are HONORED and
    // θ-invariant — the verified pair set is identical under every
    // tiling statistic (dedup removes the replication differences);
    // sp18_theta_max additionally hash-gates the max path vs DuckDB
    for (g <- Seq("min", "max", "avg2", "none")) {
      val gPairs = ConfigRunner.run(spark, yamlConf(
        s"""  progressiveAlgorithm: GIANT
           |  thetaGranularity: "$g"""".stripMargin)).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(gPairs === batch,
        s"thetaGranularity=$g must produce the identical pair set")
    }

    // 3. explicit rejections with messages, never silent drops
    def rejects(extra: String, rel: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        ConfigRunner.run(spark, yamlConf(extra, rel))
      }
      assert(e.getMessage.contains(needle),
        s"rejection message '${e.getMessage}' lacks '$needle'")
    }
    rejects("  thetaGranularity: \"median\"", "intersects", "thetaGranularity")
    // gridType: the θ-tile join does the placement, so every grid
    // type is rejected, whatever the relation
    for (g <- Seq("KDBTREE", "QUADTREE", "RTREE"); rel <- Seq("intersects", "DE9IM"))
      rejects(s"  gridType: \"$g\"", rel, "drop the gridType key")
    rejects("  progressiveAlgorithm: NO_SUCH_ALG", "intersects",
      "unknown algorithm")
  }
}
