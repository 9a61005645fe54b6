package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge.{column, dataFrame}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.StPredicate
import graft.operators.{SpatialJoin, TargetTiles, TileProbe}

/** Catalyst rewrite: a logically-declared spatial theta join
  *
  *   source.join(target, st_predicate(s_geom, t_geom, rel) [&& others])
  *
  * would plan as a cartesian product (no equi-keys). This optimizer
  * rule rewrites it into the join condition as a verifying filter over
  * [[SpatialJoin]]'s tile index ([[SpatialJoin.tileProbe]]), whenever
  * both join children expose the entity envelope columns
  * `<p>minx`..`<p>maxy` next to their `<p>geom`. This is the
  * declarative public surface of the reference's GIA.nt (SedonaExp's
  * `WHERE ST_Predicate(...)` form, `experiments/SedonaExp.scala:92-102`)
  * as a native plan rule.
  *
  * θ is [[SpatialJoin.computeTheta]] over the LEFT (source) child:
  * one Spark job each time the optimizer rewrites the join, never
  * memoized, and a failure of that job fails the query.
  *
  * SQL-join children are arbitrary rows with no unique-id contract,
  * so the index holds whole right rows and nothing is joined back. A
  * right child whose index does not fit its bound takes the tile join
  * of both children's whole rows instead ([[SpatialJoin.explodeTiles]],
  * [[SpatialJoin.tileJoin]]), which takes the join's hint. The rule's
  * output is no [[Join]], so the rule never fires on it again.
  *
  * Register with:
  * {{{ SparkSession.builder().withExtensions(new GraftExtensions) }}}
  */
case class SpatialJoinRewrite(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private val Env = Seq("minx", "miny", "maxx", "maxy")

  /** `plan`'s envelope columns `<prefix>minx`..`<prefix>maxy`, in [[Env]] order. */
  private def envelope(plan: LogicalPlan, prefix: String): Option[Seq[Attribute]] = {
    val found = Env.flatMap(n => plan.output.find(_.name == prefix + n))
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

  override def apply(plan: LogicalPlan): LogicalPlan =
    apply(plan, TargetTiles.maxBytes(session.sparkContext))

  /** [[apply]] with the index bound `maxBytes`. */
  private[graft] def apply(plan: LogicalPlan, maxBytes: Long): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val sides = for {
        (lg, rg) <- spatial(cond, left, right)
        l <- envelope(left, lg.name.stripSuffix("geom"))
        r <- envelope(right, rg.name.stripSuffix("geom"))
      } yield (lg, l, r)
      sides.fold(j: LogicalPlan) { case (lg, l, r) =>
        val theta = SpatialJoin.computeTheta(dataFrame(session, left).select(
          Env.zip(l).map { case (n, a) => column(a).as(n) } :+ column(lg).as("geom"): _*))
        Filter(cond, SpatialJoin.tileProbe(session, left, l, right, r, theta, maxBytes,
          tileJoin(hint)).queryExecution.analyzed)
      }
  }

  /** The fallback of a rewritten join: the tile join of the index
    * node's children, each with its side of the join's `hint`, on a
    * tile column named apart from every child column. */
  private def tileJoin(hint: JoinHint)(p: TileProbe): DataFrame = {
    val Seq(sEnv, tEnv) = Seq(p.sourceEnv, p.targetEnv).map(e => Env.zip(e.map(column)).toMap)
    val taken = p.output.map(_.name.toLowerCase).toSet
    val tile = Iterator.iterate("__tile")("_" + _).find(n => !taken(n)).get
    def tiles(side: LogicalPlan, h: Option[HintInfo], env: String => Column) = SpatialJoin
      .explodeTiles(dataFrame(session, h.fold(side)(ResolvedHint(side, _))), env, p.theta, tile)
    SpatialJoin.tileJoin(tiles(p.left, hint.leftHint, sEnv), sEnv,
      tiles(p.right, hint.rightHint, tEnv), tEnv, p.theta, tile)
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
