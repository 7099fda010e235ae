package graft

import scala.reflect.ClassTag
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, Partial}
import org.apache.spark.sql.catalyst.plans.JoinType
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Typed queries over one physical plan. Nodes are collected through the
  * AQE wrapper, query stages and subqueries, so the same predicate reads
  * an un-executed frame's initial adaptive plan and an executed frame's
  * final plan alike. Predicates match node classes and fields, never the
  * formatted explain text. */
final class PlanShape(val root: SparkPlan) {
  lazy val nodes: Seq[SparkPlan] =
    PlanShape.collectWithSubqueries(root) { case n => n }

  def of[T <: SparkPlan: ClassTag]: Seq[T] = nodes.collect { case t: T => t }
  def has[T <: SparkPlan: ClassTag]: Boolean = of[T].nonEmpty
  def exists(f: SparkPlan => Boolean): Boolean = nodes.exists(f)
  def count(f: SparkPlan => Boolean): Int = nodes.count(f)

  /** Every expression node of every plan node, sub-expressions included. */
  lazy val exprs: Seq[Expression] =
    nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
  def hasExpr[T <: Expression: ClassTag]: Boolean =
    exprs.exists { case _: T => true; case _ => false }
  def existsExpr(f: PartialFunction[Expression, Boolean]): Boolean =
    exprs.exists(e => f.applyOrElse(e, (_: Expression) => false))

  /** Names of all attributes a node outputs or an expression references. */
  lazy val attrNames: Set[String] = (nodes.flatMap(_.output) ++
    exprs.collect { case a: Attribute => a }).map(_.name).toSet

  lazy val joins: Seq[BaseJoinExec] = of[BaseJoinExec]
  lazy val shuffles: Seq[ShuffleExchangeLike] = of[ShuffleExchangeLike]
  lazy val fileScans: Seq[FileSourceScanExec] = of[FileSourceScanExec]
  /** The DSv2 scans' own descriptions (e.g. a pushed range). */
  lazy val scanDescriptions: Seq[String] =
    of[BatchScanExec].map(_.scan.description())

  def joinOfType(t: JoinType): Boolean = joins.exists(_.joinType == t)

  /** Shuffles hash-partitioned with `names` as their leading keys. */
  def hashShuffles(names: String*): Seq[ShuffleExchangeLike] =
    shuffles.filter(s => PlanShape.hashKeys(s).exists(_.startsWith(names)))
  /** Shuffles range-partitioned with `names` as their leading sort keys. */
  def rangeShuffles(names: String*): Seq[ShuffleExchangeLike] =
    shuffles.filter(s => PlanShape.rangeKeys(s).exists(_.startsWith(names)))

  def fileScansOf[F: ClassTag]: Seq[FileSourceScanExec] =
    fileScans.filter(s => implicitly[ClassTag[F]].runtimeClass
      .isInstance(s.relation.fileFormat))

  /** True when some aggregate runs `T` in its map-side (Partial) mode. */
  def partialAgg[T <: AggregateFunction: ClassTag]: Boolean =
    of[BaseAggregateExec].exists(_.aggregateExpressions.exists(a =>
      a.mode == Partial && (a.aggregateFunction match {
        case _: T => true
        case _ => false
      })))
  def partialAgg: Boolean = partialAgg[AggregateFunction]

  /** True when a node matching `preds.head` has a descendant matching
    * `preds(1)`, which has a descendant matching `preds(2)`, and so on:
    * the chain reads top-down. */
  def chain(preds: (SparkPlan => Boolean)*): Boolean = {
    def below(n: SparkPlan, rest: Seq[SparkPlan => Boolean]): Boolean =
      rest.isEmpty || n.children.exists(c =>
        PlanShape.collect(c) { case d if rest.head(d) => d }
          .exists(d => below(d, rest.tail)))
    preds.nonEmpty && nodes.exists(n => preds.head(n) && below(n, preds.tail))
  }

  override def toString: String = root.treeString
}

object PlanShape extends AdaptiveSparkPlanHelper {
  /** The plan of an un-executed frame: AQE's initial plan. */
  def apply(df: DataFrame): PlanShape = new PlanShape(df.queryExecution.executedPlan)

  /** Executes the frame, then reads AQE's final plan. */
  def executed(df: DataFrame): PlanShape = {
    df.collect()
    apply(df)
  }

  /** True when some node of a logical plan (e.g. a frame's optimized
    * plan, for checks on what a rewrite rule produced) matches `f`. */
  def logicalExists(plan: LogicalPlan)(f: PartialFunction[LogicalPlan, Boolean]): Boolean =
    plan.exists(n => f.applyOrElse(n, (_: LogicalPlan) => false))

  /** An attribute's name; "" for any other key expression. */
  private def name(e: Expression): String = e match {
    case a: Attribute => a.name
    case _ => ""
  }
  /** A hash shuffle's key names, None for any other partitioning. */
  private def hashKeys(s: ShuffleExchangeLike): Option[Seq[String]] =
    s.outputPartitioning match {
      case h: HashPartitioning => Some(h.expressions.map(name))
      case _ => None
    }
  /** A range shuffle's sort-key names, None for any other partitioning. */
  private def rangeKeys(s: ShuffleExchangeLike): Option[Seq[String]] =
    s.outputPartitioning match {
      case r: RangePartitioning => Some(r.ordering.map(o => name(o.child)))
      case _ => None
    }
}
