package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DecimalType

/** Materialized-view rewrite — the lakehouse MV capability (Calcite's
  * aggregate-rollup unification; Goldstein & Larson SIGMOD'01): an aggregate
  * over the `lineitem` FACT whose groupings, filter, and measures are all
  * derivable from a standing daily rollup is answered from the rollup
  * instead, re-aggregating partial states. At 100 TB this is the difference
  * between scanning the fact (6 B rows per sf1000) and scanning a
  * |dims|-bounded summary — the single biggest win a warehouse gets on
  * repeated reporting shapes.
  *
  * The MV contract (built by the q_mv_rewrite row): grouped by
  * (l_returnflag, l_linestatus, l_shipdate) with partial states
  * `cnt = count(*)`, `sum_qty = sum(decimal(12,2) qty)`,
  * `sum_price = sum(decimal(12,2) extendedprice)`. Rewritable queries:
  * groupings ⊆ MV dims, an optional filter over dims only, and aggregates
  * that are Count(literal) or Sum of exactly the MV's measure input
  * expressions (matched by semanticEquals, so alias/qualifier noise can't
  * produce a false positive). Count re-aggregates as Sum(cnt) (coalesced to
  * keep the non-null type), Sum as Sum(partial) cast back to the original
  * result type; every output keeps its original name AND exprId so the
  * parent plan's references stay valid.
  *
  * Deployment posture: this is a standard `Rule[LogicalPlan]`, so a
  * production session can inject it via `SparkSessionExtensions
  * .injectOptimizerRule` with an MV-registry conf. The graded row instead
  * applies it EXPLICITLY to its own analyzed plan ([[MvRewrite.apply]] +
  * GraftBridge.ofRows): a session-wide install here would silently answer
  * the benchmark's other lineitem aggregates (q1_agg) from the rollup and
  * grade MV scans as fact scans. Freshness is the usual MV contract — the
  * row rebuilds the rollup from the current fact before querying it.
  */
case class MvRewrite(spark: SparkSession, mvPath: String,
    factFile: String = "lineitem.parquet") extends Rule[LogicalPlan] {

  private val dims = Set("l_returnflag", "l_linestatus", "l_shipdate")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(ge, ae, child, _) =>
      rewrite(ge, ae, child).getOrElse(agg)
  }

  private def isFact(l: LogicalRelation): Boolean = l.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.exists(_.toString.endsWith(factFile))
    case _ => false
  }

  /** (optional dim filter, fact relation) when the aggregate's child is the
    * fact scan modulo attribute-only Projects and one Filter. */
  private def unwrap(p: LogicalPlan): Option[(Option[Expression], LogicalRelation)] = {
    def attrsOnly(pl: Seq[NamedExpression]) = pl.forall(_.isInstanceOf[AttributeReference])
    p match {
      case l: LogicalRelation if isFact(l) => Some((None, l))
      case Filter(c, l: LogicalRelation) if isFact(l) => Some((Some(c), l))
      case Project(pl, inner) if attrsOnly(pl) => unwrap(inner)
      case Filter(c, Project(pl, l: LogicalRelation)) if attrsOnly(pl) && isFact(l) =>
        Some((Some(c), l))
      case _ => None
    }
  }

  private def rewrite(ge: Seq[Expression], ae: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = unwrap(child).flatMap {
    case (condOpt, rel) =>
      val factOut = rel.output.map(a => a.name -> a).toMap
      def dimAttr(e: Expression) = e match {
        case a: AttributeReference => dims.contains(a.name)
        case _ => false
      }
      val shapeOk =
        ge.forall(dimAttr) &&
          condOpt.forall(_.references.forall(r => dims.contains(r.name))) &&
          Seq("l_quantity", "l_extendedprice").forall(factOut.contains)
      if (!shapeOk) None
      else {
        val qtyPat = Cast(factOut("l_quantity"), DecimalType(12, 2))
        val pricePat = Cast(factOut("l_extendedprice"), DecimalType(12, 2))
        val mvPlan = spark.read.parquet(mvPath).queryExecution.analyzed
        val mv = mvPlan.output.map(a => a.name -> (a: Expression)).toMap
        def agg(fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
          AggregateExpression(fn, Complete, isDistinct = false)
        var ok = true
        def rewriteExpr(e: Expression): Expression = e match {
          // EVERY aggregate must be rewritable — distinct/filtered aggs and
          // unknown functions refuse the whole rewrite (falling through to
          // mapChildren would leave a fact attribute dangling over the MV)
          case aggE: AggregateExpression =>
            if (aggE.isDistinct || aggE.filter.nonEmpty) { ok = false; aggE }
            else aggE.aggregateFunction match {
              case c: Count if c.children.forall(_.isInstanceOf[Literal]) =>
                Coalesce(Seq(agg(Sum(mv("cnt"))), Literal(0L)))
              case s: Sum if s.child.semanticEquals(qtyPat) =>
                Cast(agg(Sum(mv("sum_qty"))), s.dataType)
              case s: Sum if s.child.semanticEquals(pricePat) =>
                Cast(agg(Sum(mv("sum_price"))), s.dataType)
              case _ => ok = false; aggE
            }
          case a: AttributeReference =>
            if (dims.contains(a.name)) mv(a.name) else { ok = false; a }
          case other => other.mapChildren(rewriteExpr)
        }
        val newAe = ae.map {
          case a: AttributeReference if dims.contains(a.name) =>
            Alias(mv(a.name), a.name)(a.exprId)
          case al @ Alias(c, name) => Alias(rewriteExpr(c), name)(al.exprId)
          case _ => ok = false; ae.head
        }
        if (!ok) None
        else {
          val newGe = ge.map { case a: AttributeReference => mv(a.name) }
          val remapped = condOpt.map(_.transformUp {
            case a: AttributeReference if dims.contains(a.name) => mv(a.name)
          })
          Some(Aggregate(newGe, newAe,
            remapped.map(Filter(_, mvPlan)).getOrElse(mvPlan)))
        }
      }
  }

  /** True when the rewrite replaced the fact scan (the row's loud-failure
    * check: a rewrite row whose plan still reads the fact is a bug, not a
    * degraded mode). */
  def fired(plan: LogicalPlan): Boolean =
    plan.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains(mvPath))
        case _ => false
      }
      case _ => false
    }
}
