package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-placed bridge between public `Column`s and Catalyst
  * `Expression`s — the standard pattern used by Spark extension libraries
  * (frameless, deequ, spark-nlp all ship an `org.apache.spark.sql`-package
  * accessor) because the converters are `private[sql]` in Spark 4.
  * Used by graft's custom expressions ([[graft.functions]]) and by the
  * operator library's loops and driver-side paths ([[graft.ops]]).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Drain the async listener bus so a task-metrics listener (the
    * StressCheck shuffle accounting) has observed every completed task
    * before its counters are read. `listenerBus` is `private[spark]`,
    * hence the package-placed accessor.
    */
  def flushListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Replace a materialized (persisted-and-computed) DataFrame's logical
    * plan with an O(1) `LogicalRDD` over its execution RDD. Iterative
    * algorithms need this: a loop whose round k references round k−1's
    * DataFrame more than once (self-joins) grows the logical tree
    * exponentially even when every round is persisted — the cache bounds
    * recompute, not plan size, and a ~6-round loop OOMs just *printing*
    * the plan. The caller must keep the ORIGINAL DataFrame handle to
    * unpersist, and must not release it until everything derived from the
    * flattened plan is itself materialized (the LogicalRDD scans the
    * cache; dropping the cache would silently replay the old lineage).
    */
  def flattenPlan(df: Dataset[Row]): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(cdf.queryExecution.toRdd, cdf.schema)
  }

  /** Run `df` as one collect and return its rows as Catalyst values, the
    * `InternalRow`s `Dataset.collect` decodes before converting them to
    * external `Row`s. A driver-side algorithm reads, compares and
    * hashes these values with Catalyst's own orderings, whatever the
    * column types, with no per-type conversion.
    */
  def collectInternal(df: Dataset[Row]): Array[catalyst.InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** A DataFrame over driver-held Catalyst rows: a `LocalRelation`, whose
    * exact size Catalyst knows, so a join against it broadcasts without a
    * job.
    */
  def localFrame(spark: SparkSession, schema: types.StructType,
      rows: Seq[catalyst.InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.LocalRelation(catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Catalyst's size estimate for one row of `schema`, in bytes
    * (`EstimationUtils.getSizePerRow`: 8 bytes of row overhead plus each
    * column type's default size): the per-row figure Spark multiplies by
    * a row count when it sizes a relation against
    * `spark.sql.autoBroadcastJoinThreshold`.
    */
  def estimatedRowBytes(schema: types.StructType): Long =
    catalyst.plans.logical.statsEstimation.EstimationUtils.getSizePerRow(
      catalyst.types.DataTypeUtils.toAttributes(schema)).toLong

  /** Wrap a one-row/one-column DataFrame as an uncorrelated scalar
    * subquery expression — the vehicle Spark's own runtime row-level
    * filtering uses to hand a driver-computed value (e.g. a bloom filter
    * blob) to executor-side predicates without any collect() in user code.
    */
  def scalarSubquery(df: Dataset[Row]): Column = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    column(catalyst.expressions.ScalarSubquery(cdf.queryExecution.analyzed))
  }

  /** The wider of two types under Spark's own union/comparison coercion
    * rules (`TypeCoercion.findWiderTypeForTwo`) — what a join condition
    * would coerce both sides to. None when the pair is incomparable.
    */
  def widerType(a: types.DataType, b: types.DataType): Option[types.DataType] =
    catalyst.analysis.TypeCoercion.findWiderTypeForTwo(a, b)

  /** Register a temp SQL function backed by a Catalyst expression builder
    * (the registry lives behind `sessionState`, also `private[sql]`).
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
