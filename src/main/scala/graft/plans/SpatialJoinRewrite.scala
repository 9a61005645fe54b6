package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge.{column, dataFrame}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.StPredicate
import graft.operators.SpatialJoin

/** Catalyst rewrite: a logically-declared spatial theta join
  *
  *   source.join(target, st_predicate(s_geom, t_geom, rel) [&& others])
  *
  * would plan as a cartesian product (no equi-keys). This optimizer
  * rule rewrites it into [[SpatialJoin]]'s filter-refine plan — the
  * tile explode of both sides, the equi-join on the tile id and the
  * MBR + reference-point filters ([[SpatialJoin.explodeTiles]],
  * [[SpatialJoin.tileJoin]]), with the join condition kept as the
  * verifying post-filter — whenever both join children expose the
  * entity envelope columns `<p>minx`..`<p>maxy` next to their
  * `<p>geom`. This is the declarative public surface of the
  * reference's GIA.nt (SedonaExp's `WHERE ST_Predicate(...)` form,
  * `experiments/SedonaExp.scala:92-102`) as a native plan rule.
  *
  * θ is [[SpatialJoin.computeTheta]] over the LEFT (source) child:
  * one Spark job each time the optimizer rewrites the join, never
  * memoized, and a failure of that job fails the query.
  *
  * SQL-join children are arbitrary rows with no unique-id contract,
  * so whole rows ride the tile explode; there is no geometry
  * join-back as in [[SpatialJoin.tileJoinPairs]].
  *
  * Register with:
  * {{{ SparkSession.builder().withExtensions(new GraftExtensions) }}}
  */
case class SpatialJoinRewrite(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  /** The tile column; a child that already outputs it is a side of
    * a rewritten join (the tile equi-join needs it from both), so the
    * rule never re-fires on its own output. */
  private val Tile = "__tile"

  private def envelope(plan: LogicalPlan, prefix: String): Option[Map[String, Attribute]] = {
    val found = Seq("minx", "miny", "maxx", "maxy").flatMap { n =>
      plan.output.find(_.name == prefix + n).map(n -> _)
    }.toMap
    if (found.size == 4) Some(found) else None
  }

  /** The one st_predicate conjunct relating a left geometry to a right one. */
  private def spatial(cond: Expression, left: LogicalPlan,
                      right: LogicalPlan): Option[(Attribute, Attribute)] =
    splitConjunctivePredicates(cond).collect { case p: StPredicate => p } match {
      case Seq(StPredicate(l: Attribute, r: Attribute, _))
          if left.outputSet.contains(l) && right.outputSet.contains(r) => Some((l, r))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !(left.output ++ right.output).exists(_.name == Tile) =>
      val sides = for {
        (lg, rg) <- spatial(cond, left, right)
        l <- envelope(left, lg.name.stripSuffix("geom"))
        r <- envelope(right, rg.name.stripSuffix("geom"))
      } yield (lg, l, r)
      sides.fold(j: LogicalPlan) { case (lg, l, r) =>
        val (s, t) = (dataFrame(session, left), dataFrame(session, right))
        val theta = SpatialJoin.computeTheta(s.select(
          l.toSeq.map { case (n, a) => column(a).as(n) } :+ column(lg).as("geom"): _*))
        val sEnv = (n: String) => column(l(n))
        val tEnv = (n: String) => column(r(n))
        val sTiles = SpatialJoin.explodeTiles(s, sEnv, theta, Tile)
        val tile = sTiles.queryExecution.analyzed.output.last
        val pairs = SpatialJoin.tileJoin(sTiles, sEnv,
          SpatialJoin.explodeTiles(t, tEnv, theta, Tile), tEnv, theta, Tile)
        // the tile equi-join takes the spatial join's hint
        Project(j.output, Filter(cond, pairs.queryExecution.analyzed.transform {
          case tj: Join if tj.left.outputSet.contains(tile) => tj.copy(hint = hint)
        }))
      }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import graft.functions._

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(session => SpatialJoinRewrite(session))
    // SQL surface: the geometry vocabulary callable from spark.sql(...)
    def fn(name: String, arity: Int)(build: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[StGeomFromWkt].getName, name),
        (args: Seq[Expression]) =>
          if (args.size == arity) build(args)
          else throw new IllegalArgumentException(
            s"$name takes $arity argument(s), got ${args.size}")))
    fn("st_geomfromwkt", 1)(a => StGeomFromWkt(a(0)))
    fn("st_envelope", 1)(a => StEnvelope(a(0)))
    fn("st_numpoints", 1)(a => StNumPoints(a(0)))
    fn("st_area", 1)(a => StArea(a(0)))
    fn("st_relate", 2)(a => StIm(a(0), a(1)))
    fn("st_predicate", 3)(a => a(2) match {
      case Literal(rel, _) => StPredicate(a(0), a(1), rel.toString)
      case other => throw new IllegalArgumentException(
        s"st_predicate relation must be a literal, got $other")
    })
  }
}
