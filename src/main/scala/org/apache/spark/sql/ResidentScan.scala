package org.apache.spark.sql

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Expression, InSet, IntegerLiteral, InterpretedMutableProjection, Predicate, Unevaluable, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LeafNode, LocalLimit, LocalRelation, LogicalPlan, Project, Sort, Statistics, Union}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}

/** Rows held on the driver for a [[ResidentScan]]. Neither a `Product`
  * nor an `Iterable`: a tree walk (`mapExpressions`, `transform`,
  * canonicalization) passes it along as one opaque value instead of
  * visiting it row by row, as it does a `LocalRelation`'s `data`. */
final class ResidentRows(val rows: Array[InternalRow]) {
  override def toString: String = s"${rows.length} rows"
}

/** A leaf over rows a resident tier holds on the driver (the probed
  * cells' rows of a search): what a `LocalRelation` is, minus the rows
  * in its product fields, so no analyzer or optimizer rule walks them.
  * [[ResidentScan.finish]] evaluates a search over it on the driver; a
  * plan it does not finish runs through [[ResidentScan.Strategy]], a
  * local table scan of the rows. */
case class ResidentScan(output: Seq[Attribute], rows: ResidentRows)
    extends LeafNode with MultiInstanceRelation {

  override def newInstance(): ResidentScan = copy(output = output.map(_.newInstance()))

  /** The rows' heap bytes (an `UnsafeRow`'s own size, any other row the
    * schema's estimate). */
  override def computeStats(): Statistics = {
    lazy val width = EstimationUtils.getSizePerRow(output).toLong
    Statistics(sizeInBytes = BigInt(rows.rows.iterator.map {
      case u: UnsafeRow => u.getSizeInBytes.toLong
      case _ => width
    }.sum))
  }

  override def simpleString(maxFields: Int): String =
    s"ResidentScan ${truncatedString(output, "[", ", ", "]", maxFields)}, $rows"
}

object ResidentScan {

  /** A frame over `rows` (in `like`'s row layout) with `like`'s schema
    * under fresh attributes. */
  def frame(like: Dataset[_], rows: Array[InternalRow]): DataFrame =
    ofRows(like, ResidentScan(DataTypeUtils.toAttributes(like.schema), new ResidentRows(rows)))

  /** A search over resident rows, finished on the driver: when every
    * leaf of `df` is a [[ResidentScan]] or a `LocalRelation`, its
    * optimized plan is read once and evaluated here, and the result is
    * a frame over a `LocalRelation` of the rows it gives (a top-k's k).
    * The evaluator takes what a search plans: `Project` and `Filter`,
    * evaluated as `ConvertToLocalRelation` does (an
    * `InterpretedMutableProjection`, each row copied; `Predicate.create`),
    * so an expression's interpreted path gives every value
    * (`VectorDistance.nullSafeEval`); a global `Sort`, a stable sort
    * under the `LazilyGeneratedOrdering` of its `SortOrder`s, the
    * comparator `TakeOrderedAndProjectExec` uses; a limit (the first k
    * rows; over a sort, selected without sorting the rest); a `Union`
    * (a multi-source merge), its children's rows in order. Any other
    * frame, or a plan with another node, is returned as it is. */
  def finish(df: DataFrame): DataFrame =
    if (!df.queryExecution.analyzed.collectLeaves().forall(held)) df
    else {
      val plan = df.queryExecution.optimizedPlan
      eval(plan).fold(df)(rows =>
        ofRows(df, LocalRelation(plan.output, ArraySeq.unsafeWrapArray(rows))))
    }

  /** The survivor rejoin of a two-pass search over a resident `leaf` (a
    * [[frame]]): given `top`, a [[finish]]ed frame of the coarse pass
    * holding `idCol`, the rows of `leaf` whose `idCol` is among top's,
    * as a new [[ResidentScan]] with `idCol` moved first —
    * `leaf.join(top.select(idCol), Seq(idCol))`'s rows and columns, as
    * `idCol` is unique in `leaf`: a unique key matches at most once and
    * a null key never. The ids are read from top's rows, with no job.
    * `None` when `leaf` is not resident or `top` was not finished. */
  def survivors(leaf: DataFrame, top: DataFrame, idCol: String): Option[DataFrame] =
    (leaf.queryExecution.analyzed, top.queryExecution.analyzed) match {
      case (scan: ResidentScan, kept: LocalRelation) =>
        val resolver = leaf.sparkSession.sessionState.conf.resolver
        val (key, rest) = scan.output.partition(a => resolver(a.name, idCol))
        val at = kept.output.indexWhere(a => resolver(a.name, idCol))
        val inIds = InSet(
          BoundReference(scan.output.indexOf(key.head), key.head.dataType, key.head.nullable),
          kept.data.map(_.get(at, key.head.dataType)).toSet)
        Some(ofRows(leaf, Project(key ++ rest, ResidentScan(scan.output,
          new ResidentRows(scan.rows.rows.filter(r => inIds.eval(r) == true))))))
      case _ => None
    }

  /** Plans a [[ResidentScan]] the evaluator did not finish as a local
    * table scan of its rows. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case ResidentScan(output, rows) =>
        LocalTableScanExec(output, ArraySeq.unsafeWrapArray(rows.rows), None) :: Nil
      case _ => Nil
    }
  }

  /** Adds [[Strategy]] to `spark`'s planner, once. */
  def register(spark: SparkSession): Unit = {
    val methods = spark.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(Strategy))
        methods.extraStrategies = Strategy +: methods.extraStrategies
    }
  }

  private def held(p: LogicalPlan): Boolean = p match {
    case _: ResidentScan => true
    case r: LocalRelation => !r.isStreaming
    case _ => false
  }

  /** `p`'s rows in `p.output`'s layout, or None for a node not taken. */
  private def eval(p: LogicalPlan): Option[Array[InternalRow]] = p match {
    case ResidentScan(_, rows) => Some(rows.rows)
    case r: LocalRelation if !r.isStreaming => Some(r.data.toArray)
    case Project(list, child) if evaluable(list) => eval(child).map { rows =>
      val project = new InterpretedMutableProjection(list, child.output)
      project.initialize(0)
      rows.map(project(_).copy())
    }
    case Filter(condition, child) if evaluable(Seq(condition)) => eval(child).map { rows =>
      val predicate = Predicate.create(condition, child.output)
      predicate.initialize(0)
      rows.filter(predicate.eval)
    }
    case GlobalLimit(IntegerLiteral(k), LocalLimit(IntegerLiteral(l), Sort(order, true, child, _)))
        if k == l => eval(child).map(firstK(_, k, new LazilyGeneratedOrdering(order, child.output)))
    case Sort(order, true, child, _) => eval(child).map(
      _.sorted(new LazilyGeneratedOrdering(order, child.output)))
    // a projection that drops the sort keys sits between limit and sort
    case GlobalLimit(IntegerLiteral(k), LocalLimit(IntegerLiteral(l), child)) if k == l =>
      eval(child).map(_.take(k))
    case u: Union if !u.byName && !u.allowMissingCol =>
      val parts = u.children.map(eval)
      if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get).toArray) else None
    case _ => None
  }

  /** The first `k` rows of the stable sort of `rows` under `ord`: a
    * bounded heap over (row, position), the pair that orders rows as the
    * stable sort does, so a tie keeps the earlier row. */
  private def firstK(rows: Array[InternalRow], k: Int,
      ord: Ordering[InternalRow]): Array[InternalRow] =
    if (k >= rows.length) rows.sorted(ord)
    else if (k <= 0) Array.empty
    else {
      val before: Ordering[Int] = (a, b) => {
        val c = ord.compare(rows(a), rows(b))
        if (c != 0) c else Integer.compare(a, b)
      }
      val last = new java.util.PriorityQueue[Int](k, before.reverse)
      for (i <- rows.indices)
        if (last.size < k) last.add(i)
        else if (before.lt(i, last.peek)) { last.poll(); last.add(i) }
      last.toArray.map(_.asInstanceOf[Int]).sorted(before).map(rows)
    }

  /** As `ConvertToLocalRelation`: no expression that cannot be
    * evaluated (a subquery, an aggregate). */
  private def evaluable(exprs: Seq[Expression]): Boolean =
    !exprs.exists(_.exists {
      case _: AttributeReference => false
      case _: Unevaluable => true
      case _ => false
    })

  private def ofRows(like: Dataset[_], plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(like.sparkSession), plan)
}
