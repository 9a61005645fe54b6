package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.{Jts, StIm}
import graft.operators.SpatialJoin.Theta

/** The typed per-partition execution shape of the reference's GIA.nt
  * (DS-JedAI `linkers/DistributedInterlinking.scala:37-52` +
  * `model/structures/SpatialIndex.scala`): co-partition source and
  * target by θ-tile, materialize the source side of each partition
  * into an in-memory tile index, probe with each target, filter
  * (MBR + reference point) and verify.
  *
  * The declarative tile equi-join remains the default — Catalyst
  * picks broadcast sides and AQE splits skew there. This path exists
  * because some per-partition algorithms (dynamic PQs, batched early
  * stopping, custom cost models) need the materialized build side,
  * and as the performance baseline mirroring the reference's design.
  * Co-partitioning happens on the COARSE grid (tile ids divided by
  * `coarsen`) so each Spark partition holds a neighbourhood of tiles
  * and the per-partition index has non-trivial fan-out.
  */
/** Entity row for the typed path (public: encoders generate accessor
  * code for it inside Spark's codegen'd projections). */
case class Ent(id: String, geom: Array[Byte],
               minx: Double, miny: Double, maxx: Double, maxy: Double)

object TypedGiant {

  /** DE-9IM pairs via the typed cogroup+index path; results identical
    * to `SpatialJoin.de9im`. */
  def de9im(source: DataFrame, target: DataFrame): DataFrame = {
    val theta = SpatialJoin.computeTheta(source)
    val spark = source.sparkSession
    import spark.implicits._

    val coarsen = 4L // 4x4 tiles per Spark partition key
    def keyed(df: DataFrame): Dataset[(Long, Ent)] =
      df.select(col("id"), col("geom"), col("minx"), col("miny"),
          col("maxx"), col("maxy")).as[Ent]
        .flatMap { e =>
          val x0 = math.floor(e.minx / theta.x).toLong / coarsen
          val x1 = math.floor(e.maxx / theta.x).toLong / coarsen
          val y0 = math.floor(e.miny / theta.y).toLong / coarsen
          val y1 = math.floor(e.maxy / theta.y).toLong / coarsen
          for (x <- x0 to x1; y <- y0 to y1) yield (Jts.encodeTile(x, y), e)
        }

    keyed(source).groupByKey(_._1)
      .cogroup(keyed(target).groupByKey(_._1)) { (key, ss, ts) =>
        val srcArr = ss.map(_._2).toArray
        if (srcArr.isEmpty) Iterator.empty
        else {
          // per-partition tile index over the source build side
          val index = new java.util.HashMap[Long, java.util.ArrayList[Int]]()
          srcArr.zipWithIndex.foreach { case (e, i) =>
            val x0 = math.floor(e.minx / theta.x).toLong
            val x1 = math.floor(e.maxx / theta.x).toLong
            val y0 = math.floor(e.miny / theta.y).toLong
            val y1 = math.floor(e.maxy / theta.y).toLong
            for (x <- x0 to x1; y <- y0 to y1) {
              // only tiles belonging to this coarse key
              if (x / coarsen == (key >> 32) && y / coarsen == key.toInt) {
                val t = Jts.encodeTile(x, y)
                var l = index.get(t)
                if (l == null) { l = new java.util.ArrayList[Int](); index.put(t, l) }
                l.add(i)
              }
            }
          }
          ts.map(_._2).flatMap { t =>
            val x0 = math.floor(t.minx / theta.x).toLong
            val x1 = math.floor(t.maxx / theta.x).toLong
            val y0 = math.floor(t.miny / theta.y).toLong
            val y1 = math.floor(t.maxy / theta.y).toLong
            val seen = new java.util.HashSet[Int]()
            val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
            for (x <- x0 to x1; y <- y0 to y1
                 if x / coarsen == (key >> 32) && y / coarsen == key.toInt) {
              val l = index.get(Jts.encodeTile(x, y))
              if (l != null) {
                val it = l.iterator()
                while (it.hasNext) {
                  val i = it.next()
                  if (seen.add(i)) {
                    val s = srcArr(i)
                    val mbrOk = s.minx <= t.maxx && s.maxx >= t.minx &&
                                s.miny <= t.maxy && s.maxy >= t.miny
                    if (mbrOk) {
                      // reference point dedup against the COARSE key
                      val rx = math.max(s.minx, t.minx)
                      val ry = math.max(s.miny, t.miny)
                      val rcx = math.floor(rx / theta.x).toLong / coarsen
                      val rcy = math.floor(ry / theta.y).toLong / coarsen
                      if (Jts.encodeTile(rcx, rcy) == key)
                        // the expression path's DE-9IM kernel
                        out += ((s.id, t.id,
                          StIm.matrix(s.geom, t.geom, StIm.MinPoints).toString))
                    }
                  }
                }
              }
            }
            out
          }
        }
      }
      .toDF("s_id", "t_id", "de9im")
  }
}
