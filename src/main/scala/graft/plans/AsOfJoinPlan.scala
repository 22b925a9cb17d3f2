package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** Native backward AS-OF join — the whole-operator extension tier of the
  * engine (SURVEY §7 preference order (c): custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan`, the step past composing built-ins and
  * custom expressions). Spark has no as-of join operator; the composed
  * form ([[graft.ops.Relational.asOfJoin]]) unions both sides through one
  * window, which carries every left row through window state. This
  * operator instead declares the SMJ-style contract — children hash-
  * CLUSTERED on the key and SORTED by (key, time) — and streams a
  * per-partition two-pointer merge: each left row picks the latest right
  * row with `right.time <= left.time` for the same key, NULLs when none.
  *
  * Scale shape: exactly the exchanges/sorts a sort-merge join would pay,
  * O(1) state per key (ONE held candidate row — not a window buffer, not
  * a range cross-product), and output co-partitioned/ordered like the
  * left child, so downstream keyed work reuses the layout. Equal
  * timestamps match (`<=`, DuckDB ASOF semantics); the right side must
  * be unique per (key, time) — pre-aggregate otherwise; NULL keys follow
  * SMJ null-grouping (callers wanting ASOF's NULL≠NULL drop them first).
  */
final case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] into [[AsOfJoinExec]]; register via
  * [[GraftExtensions]] (builder path) or [[GraftExtensions.install]]
  * (live session, `experimental.extraStrategies`).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // the SMJ contract: co-clustered children, each sorted by (key, time) —
  // EnsureRequirements inserts the exchanges/sorts (and elides them when
  // the input is already bucketed/sorted, the zero-shuffle path)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKeys = leftKeys; val rKeys = rightKeys
    val lTime = leftTime; val rTime = rightTime
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTime), leftOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTime), rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTime.dataType))
      // bind against NULLABLE right attrs: the null-padded row must be
      // null-checked even though the child schema says non-nullable
      val outProj = UnsafeProjection.create(outAttrs,
        leftOut ++ rightOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow
      val rBuf = rIter.buffered

      new Iterator[InternalRow] {
        // O(1) merge state: the held candidate's key and row
        private var curKey: InternalRow = _
        private var lastMatch: InternalRow = _
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l)
          val lt = lTimeProj(l).copy()
          var done = false
          while (!done && rBuf.hasNext) {
            val rk = rKeyProj(rBuf.head)
            val c = keyOrd.compare(rk, lk)
            if (c < 0) {
              // keys strictly behind the (sorted) left cursor never match again
              rBuf.next()
            } else if (c == 0 && timeOrd.compare(rTimeProj(rBuf.head), lt) <= 0) {
              curKey = lk.copy()
              lastMatch = rBuf.next().copy()
            } else done = true // right cursor is ahead in key or time
          }
          val m =
            if (curKey != null && keyOrd.compare(curKey, lk) == 0) lastMatch
            else null
          outProj(joined(l, if (m == null) nullRight else m))
        }
      }
    }
  }
}

/** DataFrame-level entry point for the native AS-OF join. */
object AsOfJoin {

  /** Backward as-of join `left` with `right` on `key`, matching the
    * latest `right.rightTs <= left.leftTs` (ties match). Right-side key
    * and time columns are dropped from the result (they duplicate the
    * left's); all other right columns come back nullable.
    */
  def asOfJoin(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String): DataFrame = {
    val spark = left.sparkSession
    GraftExtensions.install(spark)
    // rename the right side's join columns first so every output name is
    // unique, then drop them — they duplicate the left's values
    val r2 = right.withColumnRenamed(key, "__asof_k")
      .withColumnRenamed(rightTs, "__asof_t")
    val lp = left.queryExecution.analyzed
    val rp = r2.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"asOfJoin: column '$n' not in [${p.output.map(_.name).mkString(", ")}]"))
    val node = AsOfJoinNode(lp, rp,
      Seq(attr(lp, key)), Seq(attr(rp, "__asof_k")),
      attr(lp, leftTs), attr(rp, "__asof_t"))
    GraftPlanBuilder.ofRows(spark, node).drop("__asof_k", "__asof_t")
  }
}
