package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.Platform
import graft.functions.{Jts, TileCover}
import SpatialJoin.Theta

/** The target side of [[TileProbeExec]]: every target row's UnsafeRow
  * bytes, one blob per partition of the target (row i of blob p ends at
  * `ends(p)(i)`), shipped once per execution as a broadcast. The
  * θ-tile → target table over it is built lazily, once in each JVM
  * that reads the broadcast (the reference's per-partition
  * `SpatialIndex`, `model/structures/SpatialIndex.scala`, kept per
  * executor). `env` holds the ordinals of minx, miny, maxx and maxy in
  * the rows. */
private[operators] final class TargetTiles(blobs: Array[Array[Byte]], ends: Array[Array[Int]],
                                           numFields: Int, env: Array[Int],
                                           theta: Theta) extends Serializable {

  def size: Int = ends.map(_.length).sum

  @transient private lazy val table = new TargetTiles.Table(blobs, ends, numFields, env, theta)

  /** The target rows paired with a source MBR: those whose MBR
    * intersects it, each in the one common tile that holds the
    * reference point (the top-left corner of the MBR intersection) —
    * exactly `SpatialJoin.tileJoin`'s MBR filter and dedup. */
  def probe(minx: Double, miny: Double, maxx: Double, maxy: Double): Iterator[InternalRow] =
    table.probe(minx, miny, maxx, maxy)
}

private[graft] object TargetTiles {

  /** The largest index [[collect]] builds, in the bytes [[footprint]]
    * counts: 256 MB, and at most half of `spark.driver.maxResultSize`
    * (when set), which the collected rows count against. The 256 MB is
    * not measured: the largest index any workload builds is the
    * linkbench gia_boxes target's, 37 MB by [[footprint]] (80k rows,
    * 12.8 MB of them row bytes), and no workload lies between it and
    * the bound, so nothing shows where the index stops beating the tile
    * join or where the driver starts to struggle. */
  def maxBytes(sc: SparkContext): Long = {
    val result = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (result > 0) math.min(256L << 20, result / 2) else 256L << 20
  }

  /** The heap bytes of an index over `rows` rows taking `bytes` bytes
    * with `entries` θ-tile entries: the row bytes; per row its end
    * offset, envelope, tile range and UnsafeRow header (100 B); per
    * entry one int value and, at the table's load of ¼ to ½, up to
    * four slots of a long key and an int start (52 B). */
  private def footprint(bytes: Long, rows: Long, entries: Long): Long =
    bytes + 100 * rows + 52 * entries

  /** The θ-tile range of an MBR and its tile count, which throws with
    * tile_cover's message past [[TileCover.MaxTiles]]. */
  private final class Cover(theta: Theta, minx: Double, miny: Double, maxx: Double, maxy: Double) {
    val x0 = TileCover.index(minx, theta.x); val x1 = TileCover.index(maxx, theta.x)
    val y0 = TileCover.index(miny, theta.y); val y1 = TileCover.index(maxy, theta.y)
    val count: Int = TileCover.count(minx, miny, maxx, maxy, x0, y0, x1, y1)
  }

  /** Collect `rows` in one job, one blob per partition, if the index
    * over them fits in `maxBytes`; `None` otherwise. Each task measures
    * its rows' bytes and θ-tile entries as it writes them and gives up
    * once past its even share of `maxBytes`, so the driver never
    * receives more than `maxBytes` and a large target costs a short
    * partial read, not a collect. A skewed target whose largest
    * partition exceeds its share gets `None` even when the whole would
    * fit. Every row written has its tile count checked, so an MBR past
    * the tile cap fails here, before anything is broadcast. */
  def collect(rows: RDD[InternalRow], types: Array[DataType], env: Array[Int],
              theta: Theta, maxBytes: Long): Option[TargetTiles] = {
    val share = maxBytes / math.max(1, rows.getNumPartitions)
    val parts = rows.mapPartitions { it =>
      lazy val unsafe = UnsafeProjection.create(types)
      val out = new java.io.ByteArrayOutputStream(1 << 16)
      val buf = new Array[Byte](4096)
      val ends = Array.newBuilder[Int]
      var n, entries = 0L
      while (it.hasNext && footprint(out.size, n, entries) < share) {
        val r = it.next() match { case u: UnsafeRow => u; case o => unsafe(o) }
        if (!env.exists(r.isNullAt)) entries += new Cover(theta, r.getDouble(env(0)),
          r.getDouble(env(1)), r.getDouble(env(2)), r.getDouble(env(3))).count
        r.writeToStream(out, buf)
        ends += out.size; n += 1
      }
      Iterator(if (it.hasNext || footprint(out.size, n, entries) > share) None
               else Some((out.toByteArray, ends.result())))
    }.collect()
    if (parts.exists(_.isEmpty)) None
    else Some(new TargetTiles(parts.map(_.get._1), parts.map(_.get._2), types.length, env, theta))
  }

  /** Open-addressed tile key → slot table over CSR offsets and
    * values, built in two passes: count each tile's targets, then
    * place them. Slot s holds targets `values(starts(s) until
    * starts(s + 1))`, in target order; an empty slot has an empty range. */
  private final class Table(blobs: Array[Array[Byte]], ends: Array[Array[Int]], numFields: Int,
                            env: Array[Int], theta: Theta) {
    private val rows: Array[UnsafeRow] =
      for ((blob, e) <- blobs.zip(ends); i <- e.indices.toArray) yield {
        val start = if (i == 0) 0 else e(i - 1)
        val r = new UnsafeRow(numFields)
        r.pointTo(blob, Platform.BYTE_ARRAY_OFFSET + start, e(i) - start)
        r
      }
    private val n = rows.length
    private val minx, miny, maxx, maxy = new Array[Double](n)
    // per target its tile range; x0 > x1 marks a null envelope
    private val x0, y0 = new Array[Long](n)
    private val x1, y1 = Array.fill(n)(-1L)

    // [[collect]] checked every count against the tile cap and their
    // sum against its bound
    private val total: Int = {
      var sum = 0
      for (i <- 0 until n if !env.exists(rows(i).isNullAt)) {
        val r = rows(i)
        minx(i) = r.getDouble(env(0)); miny(i) = r.getDouble(env(1))
        maxx(i) = r.getDouble(env(2)); maxy(i) = r.getDouble(env(3))
        val c = new Cover(theta, minx(i), miny(i), maxx(i), maxy(i))
        x0(i) = c.x0; x1(i) = c.x1; y0(i) = c.y0; y1(i) = c.y1
        sum += c.count
      }
      sum
    }
    // at least twice as many slots as (distinct) keys
    private val bits = math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(2L * total))
    private val mask = (1 << bits) - 1
    private val keys = new Array[Long](1 << bits)
    private val starts = new Array[Int]((1 << bits) + 1)
    private val values = new Array[Int](total)

    private def home(key: Long): Int = ((key * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt

    private def eachTile(i: Int)(f: Long => Unit): Unit = {
      var x = x0(i)
      while (x <= x1(i)) {
        var y = y0(i)
        while (y <= y1(i)) { f(Jts.encodeTile(x, y)); y += 1 }
        x += 1
      }
    }

    // pass 1: count per key; `starts(s)` is slot s's count here, so a
    // zero marks an empty slot
    for (i <- 0 until n) eachTile(i) { key =>
      var s = home(key)
      while (starts(s) != 0 && keys(s) != key) s = (s + 1) & mask
      keys(s) = key; starts(s) += 1
    }
    // running sums make starts(s) the end of slot s's range ...
    for (s <- 1 to mask) starts(s) += starts(s - 1)
    starts(mask + 1) = total
    // ... and pass 2, placing from the back, walks it to the start. Every
    // key is present, and no empty slot sits between a key's home and
    // its slot, so the search needs no emptiness test.
    for (i <- n - 1 to 0 by -1) eachTile(i) { key =>
      var s = home(key)
      while (keys(s) != key) s = (s + 1) & mask
      starts(s) -= 1; values(starts(s)) = i
    }

    def probe(sMinx: Double, sMiny: Double, sMaxx: Double, sMaxy: Double): Iterator[InternalRow] = {
      val c = new Cover(theta, sMinx, sMiny, sMaxx, sMaxy)
      val out = new scala.collection.mutable.ArrayBuffer[InternalRow](4)
      var x = c.x0
      while (x <= c.x1) {
        var y = c.y0
        while (y <= c.y1) {
          val key = Jts.encodeTile(x, y)
          var s = home(key)
          while (starts(s) != starts(s + 1) && keys(s) != key) s = (s + 1) & mask
          var k = starts(s)
          while (k < starts(s + 1)) {
            val j = values(k)
            if (sMinx <= maxx(j) && sMaxx >= minx(j) && sMiny <= maxy(j) && sMaxy >= miny(j) &&
                Jts.encodeTile(TileCover.index(math.max(sMinx, minx(j)), theta.x),
                  TileCover.index(math.max(sMiny, miny(j)), theta.y)) == key)
              out += rows(j)
            k += 1
          }
          y += 1
        }
        x += 1
      }
      out.iterator
    }
  }
}

/** The tile index as a plan node, the one candidate generator of
  * `SpatialJoin` and the `st_predicate` rewrite: each `left` (source)
  * row paired with the `right` (target) rows its envelope `sourceEnv`
  * meets under `SpatialJoin.tileJoin`'s MBR and reference-point tests,
  * output as `left.output ++ right.output`. `fallback` builds the tile
  * join from the node as planned (column pruning may have narrowed its
  * children since it was built), with the node's columns in order;
  * [[TileProbeExec]] builds and runs it only when the target's index
  * does not fit in `maxBytes`, and takes its columns by position. The
  * env attributes are the node's expressions, so column pruning keeps
  * them in the children. */
private[graft] case class TileProbe(left: LogicalPlan, right: LogicalPlan,
                                    sourceEnv: Seq[Attribute], targetEnv: Seq[Attribute],
                                    theta: Theta, maxBytes: Long,
                                    fallback: TileProbe => DataFrame)
    extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def stringArgs: Iterator[Any] = Iterator(theta)
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): TileProbe =
    copy(left = l, right = r)
}

/** Plans [[TileProbe]]. [[register]] adds it to a session's planner
  * (once; a session built without it cannot plan the node). */
private[graft] object TileProbeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: TileProbe => TileProbeExec(planLater(p.left), planLater(p.right), p.sourceEnv,
      p.targetEnv, p.theta, p.maxBytes, () => p.fallback(p)) :: Nil
    case _ => Nil
  }

  def register(session: SparkSession): Unit = {
    val experimental = session.asInstanceOf[classic.SparkSession].experimental
    if (!experimental.extraStrategies.contains(this))
      experimental.extraStrategies = experimental.extraStrategies :+ this
  }
}

/** [[TileProbe]] at execution: [[TargetTiles.collect]] reads the
  * target, and when its index fits it is broadcast and the source is
  * probed in place, one pass with no exchange; otherwise the fallback
  * plan runs. The collect runs when the plan first executes, not when
  * its frame is built. Spark keeps an executed plan's RDD, so a re-run
  * of the same frame reuses that index, as it reuses a broadcast
  * join's relation; a new frame over the same inputs collects anew.
  * The broadcast lives as long as that RDD (the ContextCleaner removes
  * it then), like the relation of Spark's own broadcast joins. */
private[graft] case class TileProbeExec(left: SparkPlan, right: SparkPlan,
                                        sourceEnv: Seq[Attribute], targetEnv: Seq[Attribute],
                                        theta: Theta, maxBytes: Long,
                                        // called on the driver only; a code-generated
                                        // parent ships this node to executors
                                        @transient fallback: () => DataFrame)
    extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def stringArgs: Iterator[Any] = Iterator(theta)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "indexRows" -> SQLMetrics.createMetric(sparkContext, "target rows indexed"))

  private def ordinals(env: Seq[Attribute], of: SparkPlan): Array[Int] =
    env.map(a => of.output.indexWhere(_.exprId == a.exprId)).toArray

  override protected def doExecute(): RDD[InternalRow] =
    TargetTiles.collect(right.execute(), right.output.map(_.dataType).toArray,
        ordinals(targetEnv, right), theta, maxBytes) match {
      case Some(tiles) =>
        val indexed = longMetric("indexRows")
        indexed += tiles.size
        SQLMetrics.postDriverMetricUpdates(sparkContext,
          sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(indexed))
        val index = sparkContext.broadcast(tiles)
        val env = ordinals(sourceEnv, left)
        val out = output
        left.execute().mapPartitions { rows =>
          val target = index.value
          val joined = new JoinedRow
          val project = UnsafeProjection.create(out, out)
          rows.flatMap { s =>
            if (env.exists(s.isNullAt)) Iterator.empty
            else target.probe(s.getDouble(env(0)), s.getDouble(env(1)),
              s.getDouble(env(2)), s.getDouble(env(3))).map(t => project(joined(s, t)))
          }
        }
      case None => fallback().queryExecution.toRdd
    }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): TileProbeExec =
    copy(left = l, right = r)
}
