package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge.{column, dataFrame}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{StEnvelope, StPredicate}
import graft.model.Relation
import graft.operators.{SpatialJoin, TargetTiles, TileProbe}

/** Catalyst rewrite: a logically-declared spatial theta join
  *
  *   source.join(target, st_predicate(s_geom, t_geom, rel) [&& others])
  *
  * would plan as a cartesian product (no equi-keys). This optimizer
  * rule rewrites it into the join condition as a verifying filter over
  * [[SpatialJoin]]'s tile index ([[SpatialJoin.tileProbe]]). Each
  * side's envelope is its entity envelope columns `<p>minx`..`<p>maxy`
  * next to its `<p>geom`; a child without them gets them as
  * `st_envelope(<p>geom)`'s fields in a [[Project]] over it, and the
  * rewritten join is projected back to the join's columns. The rule
  * cannot tell a child whose envelope columns column pruning dropped
  * (a join projected to its ids loses them before this rule runs) from
  * one that never had any, so it rewrites every such join whose
  * geometries are plain columns, and pays a WKB parse per row on each
  * side that lacks them. This is the declarative public surface of the
  * reference's GIA.nt (SedonaExp's `WHERE ST_Predicate(...)` form,
  * `experiments/SedonaExp.scala:92-102`) as a native plan rule.
  *
  * The index emits only pairs whose MBRs intersect, so it would lose
  * every pair of a `disjoint` join whose MBRs lie apart: such a join is
  * left to Spark's nested loop.
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

  /** `side` and the envelope columns of its geometry `geom`, in [[Env]]
    * order: its own `<p>minx`..`<p>maxy` next to `<p>geom`, or else
    * `st_envelope(geom)`'s fields, computed once per row in a [[Project]]
    * over `side`. */
  private def envelope(side: LogicalPlan, geom: Attribute): (LogicalPlan, Seq[Attribute]) = {
    val p = geom.name.stripSuffix("geom")
    val found = Env.flatMap(n => side.output.find(_.name == p + n))
    if (found.size == 4) (side, found)
    else {
      val env = Alias(StEnvelope(geom), p + "env")()
      val fields = Env.indices.map(i => Alias(GetStructField(env.toAttribute, i), p + Env(i))())
      (Project(side.output ++ fields, Project(side.output :+ env, side)), fields.map(_.toAttribute))
    }
  }

  /** The one st_predicate conjunct relating a left geometry to a right
    * one by a relation that only MBR-intersecting pairs satisfy. */
  private def spatial(cond: Expression, left: LogicalPlan,
                      right: LogicalPlan): Option[(Attribute, Attribute)] =
    splitConjunctivePredicates(cond).collect { case p: StPredicate => p } match {
      case Seq(StPredicate(l: Attribute, r: Attribute, rel))
          if Relation.of(rel) != Relation.Disjoint &&
            left.outputSet.contains(l) && right.outputSet.contains(r) => Some((l, r))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    apply(plan, TargetTiles.maxBytes(session.sparkContext))

  /** [[apply]] with the index bound `maxBytes`. */
  private[graft] def apply(plan: LogicalPlan, maxBytes: Long): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      spatial(cond, left, right).fold(j: LogicalPlan) { case (lg, rg) =>
        val (l, lEnv) = envelope(left, lg)
        val (r, rEnv) = envelope(right, rg)
        val theta = SpatialJoin.computeTheta(dataFrame(session, l).select(
          Env.zip(lEnv).map { case (n, a) => column(a).as(n) }: _*))
        val rewritten = Filter(cond, SpatialJoin.tileProbe(session, l, lEnv, r, rEnv, theta,
          maxBytes, tileJoin(hint)).queryExecution.analyzed)
        if ((l eq left) && (r eq right)) rewritten else Project(j.output, rewritten)
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
