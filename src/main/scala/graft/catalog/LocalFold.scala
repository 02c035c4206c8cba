package graft.catalog

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalAggregation}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.graftshim.PlanShim

/** Folds small plans over driver-held rows into one `LocalRelation`, so the
  * catalog's joins, sorts, windows and aggregates run on the driver and
  * start no Spark job.
  *
  * The rule rewrites, bottom-up, any node whose children are all
  * non-streaming `LocalRelation`s holding at most
  * [[CatalogStore.SnapshotMaxRows]] rows between them. It evaluates the node
  * with Catalyst's own interpreted evaluators (`InterpretedUnsafeProjection`,
  * `InterpretedPredicate`, `InterpretedOrdering`,
  * `InterpretedMutableProjection`, `JoinedRow`), so a whole plan over
  * catalog snapshots becomes one `LocalRelation`, and `collect`, `count` or
  * `isEmpty` on it run as a `LocalTableScan`. The shapes it folds are the
  * ones the catalog's readers use:
  *  - Project, Filter, Limit and Offset (Spark's `ConvertToLocalRelation`
  *    covers the first three over a snapshot, but not over a folded node);
  *  - a global Sort, stable, like Spark's sort of one partition;
  *  - an equi-join (inner, left outer, left semi, left anti) with an
  *    optional residual condition, as `ExtractEquiJoinKeys` splits it. Keys
  *    match as `UnsafeRow` bytes and a key with a null never matches, as in
  *    Spark's hash joins. The join is not folded when its matches, counted
  *    from the hash table before any row is built, would pass the bound;
  *  - a Window of `row_number()`s, and the `WindowGroupLimit` of
  *    `row_number()` that Spark places under a `rn <= k` filter;
  *  - an Aggregate whose functions are count, sum, min or max (not
  *    distinct), run through their initial, update and evaluate
  *    expressions, with grouping keys normalised like Spark's planner does.
  *
  * Every other node, any non-deterministic expression, any user-defined
  * function and any subquery keep Spark's plan, and so does any plan past
  * the bound: there the same query plans exactly as it does without the
  * rule. An expression that throws while folding (an ANSI overflow, say)
  * also leaves the node to Spark, so the error surfaces when the query
  * runs, as it does without the rule, and not while it is only planned.
  *
  * The catalog registers the rule: a [[CatalogStore]] calls [[setup]] on
  * its session, because only the catalog keeps tables as driver-held
  * snapshots. A session that never opens a catalog (the batch pipeline,
  * `Bench`, `Verify`) plans as it always has.
  */
object LocalFold extends Rule[LogicalPlan] {

  /** Add the rule to `spark`'s extra optimizations once (idempotent). */
  def setup(spark: SparkSession): Unit = {
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(LocalFold))
        exp.extraOptimizations = exp.extraOptimizations :+ LocalFold
    }
  }

  private type Rows = IndexedSeq[InternalRow]

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case p if p.children.nonEmpty && p.children.forall(isLocal) &&
                p.children.map(rows(_).size).sum <= CatalogStore.SnapshotMaxRows =>
        (try fold(p) catch { case NonFatal(_) => None })
          .fold(p)(r => LocalRelation(p.output, r))
    }

  private def isLocal(p: LogicalPlan): Boolean = p match {
    case r: LocalRelation => !r.isStreaming
    case _ => false
  }

  private def rows(p: LogicalPlan): Rows = p.asInstanceOf[LocalRelation].data.toIndexedSeq

  /** Deterministic, evaluable on one row, and free of user code. */
  private def plain(es: Seq[Expression]): Boolean = es.forall(e => e.deterministic && !e.exists {
    case _: AttributeReference => false
    case _: Unevaluable | _: UserDefinedExpression | _: SubqueryExpression => true
    case _ => false
  })

  /** The rows `p` yields over its (local) children, or None to keep it. */
  private def fold(p: LogicalPlan): Option[Rows] = p match {
    case Project(list, child) if plain(list) =>
      Some(project(list, child.output, rows(child)))
    case Filter(cond, child) if plain(Seq(cond)) =>
      val pred = predicate(cond, child.output)
      Some(rows(child).filter(pred.eval))
    case GlobalLimit(IntegerLiteral(n), child) => Some(rows(child).take(n))
    case LocalLimit(IntegerLiteral(n), child) => Some(rows(child).take(n))
    case Offset(IntegerLiteral(n), child) => Some(rows(child).drop(n))
    case Sort(order, true, child, _) if plain(order.map(_.child)) =>
      Some(rows(child).sorted(new InterpretedOrdering(order, child.output)))
    case ExtractEquiJoinKeys(jt @ (Inner | LeftOuter | LeftSemi | LeftAnti),
                             lk, rk, cond, _, left, right, _) if plain(lk ++ rk ++ cond) =>
      join(jt, lk, rk, cond, left, right, p.output)
    case WindowGroupLimit(part, order, _: RowNumber, limit, child)
        if plain(part ++ order.map(_.child)) =>
      Some(partitions(part, order, child).flatMap(_.take(limit)).toIndexedSeq)
    case Window(exprs, part, order, child, _) if exprs.forall(isRowNumber) &&
                                                 plain(part ++ order.map(_.child)) =>
      val out = unsafeCopy(p.output)
      val joined = new JoinedRow
      Some(partitions(part, order, child).flatMap(_.iterator.zipWithIndex.map { case (r, i) =>
        out(joined(r, new GenericInternalRow(Array.fill[Any](exprs.size)(i + 1)))).copy()
      }).toIndexedSeq)
    case PhysicalAggregation(grouping, aggs, results, child)
        if aggs.forall(isSimple) && plain(grouping ++ results) &&
           plain(aggs.flatMap(a => a.aggregateFunction.children ++ a.filter)) =>
      Some(aggregate(grouping, aggs, results, child))
    case _ => None
  }

  private def project(es: Seq[Expression], in: Seq[Attribute], rs: Rows): Rows = {
    val proj = InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(es, in))
    rs.map(r => proj(r).copy())
  }

  /** Copies a row laid out as `attrs` (a `JoinedRow`, say) into an `UnsafeRow`. */
  private def unsafeCopy(attrs: Seq[Attribute]): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(attrs.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable)
    })

  private def predicate(cond: Expression, in: Seq[Attribute]): BasePredicate = {
    val pred = InterpretedPredicate(BindReferences.bindReference(cond, in))
    pred.initialize(0)
    pred
  }

  private def isRowNumber(e: NamedExpression): Boolean = e match {
    case Alias(WindowExpression(_: RowNumber, _), _) => true
    case _ => false
  }

  private def isSimple(a: AggregateExpression): Boolean =
    a.mode == Complete && !a.isDistinct && (a.aggregateFunction match {
      case _: Count | _: Sum | _: Min | _: Max => true
      case _ => false
    })

  /** `child`'s rows grouped by `part` (as `UnsafeRow` bytes, like Spark's
    * window grouping), each group stably sorted by `order`. */
  private def partitions(part: Seq[Expression], order: Seq[SortOrder],
                         child: LogicalPlan): Iterable[Rows] = {
    val key = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(part, child.output))
    val groups = mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
    rows(child).foreach { r =>
      val k = key(r)
      groups.getOrElse(k, groups.getOrElseUpdate(k.copy(), mutable.ArrayBuffer.empty)) += r
    }
    val ord = new InterpretedOrdering(order, child.output)
    groups.values.map(_.toIndexedSeq.sorted(ord))
  }

  /** A hash join with the right side as the build side, streaming the left
    * side in order. None when its matches pass the bound. */
  private def join(jt: JoinType, lk: Seq[Expression], rk: Seq[Expression],
                   cond: Option[Expression], left: LogicalPlan, right: LogicalPlan,
                   output: Seq[Attribute]): Option[Rows] = {
    val lKey = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(lk, left.output))
    val rKey = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(rk, right.output))
    val table = mutable.HashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
    rows(right).foreach { r =>
      val k = rKey(r)
      if (!k.anyNull)
        table.getOrElse(k, table.getOrElseUpdate(k.copy(), mutable.ArrayBuffer.empty)) += r
    }
    val ls = rows(left)
    val matches: IndexedSeq[collection.Seq[InternalRow]] = ls.map { l =>
      val k = lKey(l)
      if (k.anyNull) Nil else table.getOrElse(k, Nil)
    }
    val built = jt match {
      case Inner => matches.map(_.size.toLong).sum
      case LeftOuter => matches.map(_.size.max(1).toLong).sum
      case _ => 0L
    }
    if (built > CatalogStore.SnapshotMaxRows) return None
    val joined = new JoinedRow
    val residual = cond.map(predicate(_, left.output ++ right.output))
    def hits(l: InternalRow, ms: collection.Seq[InternalRow]) =
      ms.filter(r => residual.forall(_.eval(joined(l, r))))
    lazy val out = unsafeCopy(output)
    lazy val nulls = new GenericInternalRow(right.output.size)
    Some(jt match {
      case LeftSemi => ls.zip(matches).collect { case (l, ms) if hits(l, ms).nonEmpty => l }
      case LeftAnti => ls.zip(matches).collect { case (l, ms) if hits(l, ms).isEmpty => l }
      case _ => ls.zip(matches).flatMap { case (l, ms) =>
        val hs = hits(l, ms)
        (if (hs.isEmpty && jt == LeftOuter) Seq(nulls) else hs)
          .map(r => out(joined(l, r)).copy())
      }
    })
  }

  /** Spark's `PhysicalAggregation` split, evaluated in one pass: one
    * mutable buffer per group, updated in input order. */
  private def aggregate(grouping: Seq[NamedExpression], aggs: Seq[AggregateExpression],
                        results: Seq[NamedExpression], child: LogicalPlan): Rows = {
    val fns = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val buffer = fns.flatMap(_.aggBufferAttributes)
    val init = new InterpretedMutableProjection(fns.flatMap(_.initialValues))
    val update = new InterpretedMutableProjection(aggs.zip(fns).flatMap { case (a, f) =>
      a.filter.fold(f.updateExpressions)(c =>
        f.updateExpressions.zip(f.aggBufferAttributes).map { case (u, b) => If(c, u, b) })
    }, buffer ++ child.output)
    val key = InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(
      grouping.map(PlanShim.normalizeFloats), child.output))
    def fresh(): InternalRow = {
      val b = new GenericInternalRow(buffer.size)
      init.target(b)(InternalRow.empty)
      b
    }
    val groups = mutable.LinkedHashMap.empty[UnsafeRow, InternalRow]
    val joined = new JoinedRow
    rows(child).foreach { r =>
      val k = key(r)
      val b = groups.getOrElse(k, groups.getOrElseUpdate(k.copy(), fresh()))
      update.target(b)(joined(b, r))
    }
    if (grouping.isEmpty && groups.isEmpty) groups.put(key(InternalRow.empty).copy(), fresh())
    val evaluate = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(fns.map(_.evaluateExpression), buffer))
    val result = InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(
      results, grouping.map(_.toAttribute) ++ aggs.map(_.resultAttribute)))
    groups.iterator.map { case (k, b) => result(joined(k, evaluate(b))).copy() }.toIndexedSeq
  }
}
