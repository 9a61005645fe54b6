package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.SpatialIO

/** Configuration-file runner mirroring the reference's YAML surface
  * (DS-JedAI `config/configurationTemplate.yaml` +
  * `utils/configuration/ConfigurationParser.scala`): a flat two-level
  * `section.key: value` config describing source/target datasets, the
  * relation, and algorithm knobs. A reference user's job config maps
  * 1:1 onto this runner.
  *
  * The parser handles the two-level YAML subset the reference's
  * template uses (no external YAML dependency is available offline).
  */
object ConfigRunner {

  case class DatasetConf(path: String, realIdField: Int, geometryField: Int,
                         delimiter: String, dateField: Option[Int] = None,
                         datePattern: String = "yyyy-MM-dd HH:mm:ss")

  case class JobConf(source: DatasetConf, target: DatasetConf, relation: String,
                     algorithm: String, budget: Int, mainWF: String,
                     batchSize: Int, violations: Int, precisionLimit: Double,
                     exportPath: Option[String],
                     scheme: String = "SIMPLE", secondaryWF: String = "",
                     partitions: Option[Int] = None,
                     thetaGranularity: String = "avg",
                     gridType: Option[String] = None)

  /** Minimal two-level YAML subset: `key:` section headers with
    * two-space-indented `sub: value` entries, plus top-level
    * `key: value` pairs. Quotes stripped; `#` comments ignored. */
  def parseYaml(text: String): Map[String, String] = {
    var section = ""
    val out = scala.collection.mutable.Map.empty[String, String]
    text.linesIterator.foreach { raw =>
      val line = raw.replaceAll("#.*$", "")
      if (line.trim.nonEmpty) {
        val indented = line.startsWith("  ") || line.startsWith("\t")
        val Array(k, v @ _*) = line.trim.split(":", 2)
        val value = v.headOption.getOrElse("").trim.stripPrefix("\"").stripSuffix("\"")
        if (!indented && value.isEmpty) section = k.trim
        else if (indented && section.nonEmpty) out(s"$section.${k.trim}") = value
        else out(k.trim) = value
      }
    }
    out.toMap
  }

  def jobConf(yaml: Map[String, String]): JobConf = {
    def ds(p: String) = DatasetConf(
      path = yaml(s"$p.path"),
      realIdField = yaml.getOrElse(s"$p.realIdField", "0").toInt,
      geometryField = yaml.getOrElse(s"$p.geometryField", "1").toInt,
      delimiter = yaml.getOrElse(s"$p.delimiter",
        if (yaml(s"$p.path").endsWith(".tsv")) "\t" else ","),
      dateField = yaml.get(s"$p.dateField").map(_.toInt),
      datePattern = yaml.getOrElse(s"$p.datePattern", "yyyy-MM-dd HH:mm:ss"))
    JobConf(
      source = ds("source"), target = ds("target"),
      relation = yaml.getOrElse("relation", "DE9IM"),
      algorithm = yaml.getOrElse("configurations.progressiveAlgorithm", "GIANT"),
      budget = yaml.getOrElse("configurations.budget", "10000000").toInt,
      mainWF = yaml.getOrElse("configurations.mainWF", "JS") match {
        case "JS" => "w_js"; case "CF" => "w_cf"; case "MBRO" => "w_mbro"
        case "PEARSONS_X2" | "X2" => "w_x2"; case "ISP" => "w_isp"
        case w => w
      },
      batchSize = yaml.getOrElse("configurations.batchSize", "100").toInt,
      violations = yaml.getOrElse("configurations.violations", "3").toInt,
      precisionLimit = yaml.getOrElse("configurations.precisionLimit", "0.1").toDouble,
      exportPath = yaml.get("configurations.exportPath"),
      scheme = yaml.getOrElse("configurations.ws", "SIMPLE") match {
        case "HYBRID" => "HYBRID"; case "COMPOSITE" => "COMPOSITE"; case _ => "SIMPLE"
      },
      secondaryWF = yaml.getOrElse("configurations.secondaryWF", "") match {
        case "JS" => "w_js"; case "CF" => "w_cf"; case "MBRO" => "w_mbro"
        case "PEARSONS_X2" | "X2" => "w_x2"; case "ISP" => "w_isp"
        case w => w
      },
      partitions = yaml.get("configurations.partitions").map(_.toInt),
      thetaGranularity =
        yaml.getOrElse("configurations.thetaGranularity", "avg"),
      gridType = yaml.get("configurations.gridType"))
  }

  private def load(spark: SparkSession, d: DatasetConf): DataFrame =
    if (d.path.endsWith(".nt")) SpatialIO.readNTriples(spark, d.path)
    else if (d.path.endsWith(".json") || d.path.endsWith(".geojson"))
      SpatialIO.readGeoJson(spark, d.path, "id")
    else if (d.path.endsWith(".parquet")) {
      // honor the template's realIdField/geometryField as COLUMN
      // INDICES (their documented meaning for delimited sources) —
      // hardcoding "id"/"wkb" would silently ignore two declared keys
      val df = spark.read.parquet(d.path)
      graft.operators.SpatialJoin.entitiesFromWkb(df,
        org.apache.spark.sql.functions.col(df.columns(d.realIdField)),
        org.apache.spark.sql.functions.col(df.columns(d.geometryField)))
    }
    else SpatialIO.readDelimitedWkt(spark, d.path, d.realIdField,
      d.geometryField, d.delimiter, d.dateField, d.datePattern)

  /** Run a configured job; returns the result DataFrame (relation
    * counts for DE9IM, id pairs for single relations). When both
    * datasets declare a dateField, single-relation jobs apply the
    * reference's ±2-day temporal filter (SpatioTemporalEntity
    * semantics).
    *
    * Template-key contract (ConfigRunnerSpec walks the reference's own
    * `config/configurationTemplate.yaml:1-27` key for key): every key
    * is either HONORED — paths/fields/patterns, relation, partitions
    * (input repartition), thetaGranularity (all five reference
    * statistics, avg / avg2 / min / max / none, `Constants.scala:39-48`,
    * as θ options on the tile paths), all five weighting functions,
    * all progressive algorithms incl. RANDOM, budget, exportPath — or
    * REJECTED with an explicit message: gridType, whatever its value,
    * because the θ-tile join does the spatial placement that the
    * reference's Sedona grid partitioner does. For GIANT jobs the θ
    * statistic is a tiling-performance dial only — the verified pair
    * set is θ-invariant (ConfigRunnerSpec proves result equality across
    * all five). The weighted algorithms are not θ-invariant: `CF`,
    * `JS` and `PEARSONS_X2` count θ-tiles (`Progressive.tileCounts`),
    * so progressive, early stopping and top-k rankings follow the
    * chosen statistic. */
  def run(spark: SparkSession, conf: JobConf): DataFrame = {
    require(Set("avg", "avg2", "min", "max", "none")(
        conf.thetaGranularity.toLowerCase),
      s"unknown thetaGranularity '${conf.thetaGranularity}' " +
        "(avg | avg2 | min | max | none)")
    val temporal = conf.source.dateField.isDefined && conf.target.dateField.isDefined
    require(conf.gridType.isEmpty,
      s"gridType '${conf.gridType.get}' is not supported: the θ-tile join " +
        "does the spatial placement, so drop the gridType key")
    def part(df: DataFrame): DataFrame =
      conf.partitions.fold(df)(df.repartition)
    val link = SpatialLink(part(load(spark, conf.source)),
      part(load(spark, conf.target)))
      .thetaGranularity(conf.thetaGranularity.toLowerCase)
    val result = (conf.algorithm.toUpperCase, conf.relation.toUpperCase) match {
      case ("GIANT", "DE9IM")    => link.de9im()
      case ("GIANT", rel) if temporal => link.relateTemporal(rel.toLowerCase)
      case ("GIANT", rel)        => link.relate(rel.toLowerCase)
      case ("RANDOM", rel) =>
        link.progressive(conf.budget, "w_rand",
          if (rel == "DE9IM") "intersects" else rel.toLowerCase)
      case ("PROGRESSIVE_GIANT", rel) =>
        link.progressive(conf.budget, conf.mainWF,
          if (rel == "DE9IM") "intersects" else rel.toLowerCase)
      case ("DYNAMIC_PROGRESSIVE_GIANT", rel) =>
        link.dynamicProgressive(conf.budget, conf.mainWF,
          if (rel == "DE9IM") "intersects" else rel.toLowerCase,
          conf.scheme,
          if (conf.scheme == "SIMPLE") "" else conf.secondaryWF).toDF()
      case ("EARLY_STOPPING", rel) =>
        link.earlyStopping(conf.mainWF,
          if (rel == "DE9IM") "intersects" else rel.toLowerCase,
          conf.batchSize, conf.precisionLimit, conf.violations).toDF()
      case ("TOPK", _) =>
        link.topK(math.max(1, conf.budget), conf.mainWF)
      case ("RECIPROCAL_TOPK", _) =>
        link.reciprocalTopK(math.max(1, conf.budget), conf.mainWF)
      case (alg, _) => throw new IllegalArgumentException(s"unknown algorithm: $alg")
    }
    conf.exportPath.foreach(p => SpatialIO.writePairsCsv(result, p))
    result
  }

  /** CLI: runMain graft.api.ConfigRunner <config.yaml> */
  def main(args: Array[String]): Unit = {
    val conf = jobConf(parseYaml(
      java.nio.file.Files.readString(java.nio.file.Path.of(args(0)))))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result = run(spark, conf)
    println(s"rows: ${result.count()}")
    spark.stop()
  }
}
