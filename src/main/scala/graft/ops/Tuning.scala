package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

/** Path choice, materialization and the loop scaffold of the iterative
  * operators (connected components, PageRank, BPE induction) and of the
  * exact similarity join (`Dedup.prefixFilteredJaccardPairs`).
  *
  * Path choice: each of them reads its working set once through
  * [[broadcastRows]]. A working set Spark would broadcast (rows times
  * Catalyst's estimated row size at or under
  * `spark.sql.autoBroadcastJoinThreshold`) comes back as driver rows,
  * and the operator runs on the driver over Catalyst values: no
  * per-round job, working cache or conf write. The working sets are
  * components' undirected edges, PageRank's distinct edges, BPE's
  * `(wc, s)` vocab and the similarity join's `(doc_id, n, s)` token
  * rows; the join also needs its prefix candidate bound under the
  * threshold ([[broadcastRowCap]] of its pair rows). Measured (sf0.001,
  * `local[4]`, registered tables): `op_graph_pagerank` builds in 2 jobs
  * on the driver path against 30 on the loop path, `llm_bpe_learn` and
  * `llm_bpe_pipeline` in 2 against 46 each, `llm_dedup_cluster_stats`
  * in 3 against 8. Anything larger, or any session with the threshold
  * at `-1`, takes the distributed loop or plan.
  *
  * The loops run many small actions over working frames that are orders
  * of magnitude smaller than the input the session conf was sized for,
  * so every per-round shuffle at the session width schedules a wave of
  * micro-tasks. [[loop]] lets AQE size the loops' caches by their bytes,
  * which removes that overhead. The loops run at the session's shuffle
  * width: a width narrowed to a counted row total on top of the AQE
  * sizing took 1–2 more tasks per loop query and its sizing counts as
  * extra jobs, and gave no steady gain in wall time (sf0.01, broadcasts
  * off, `local[16]` and `local[32]` on a 4-core machine: per-query best
  * times moved between −23% and +19% without it; only components was
  * slower in every pair, by 1–19%). At 4 shuffle partitions or fewer it
  * never narrowed.
  */
object Tuning {

  /** The rows of `df` as Catalyst values (`GraftBridge.collectInternal`)
    * when Spark would broadcast them: their count times Catalyst's
    * estimated row size (`GraftBridge.estimatedRowBytes`) is at or below
    * `spark.sql.autoBroadcastJoinThreshold`. None when they do not fit,
    * after one collect of at most one row more than fits
    * (`limit(cap + 1)`), and None with no job at all when the threshold
    * is negative. Reads the session conf and writes none; the driver
    * never holds more than the threshold's worth of rows, as a
    * broadcast would.
    */
  def broadcastRows(df: DataFrame): Option[Array[InternalRow]] =
    broadcastRowCap(df).flatMap { c =>
      val cap = math.min(c, Int.MaxValue - 1L).toInt
      val rows = GraftBridge.collectInternal(df.limit(cap + 1))
      if (rows.length > cap) None else Some(rows)
    }

  /** How many rows of `df` Spark would broadcast: the largest count whose
    * product with Catalyst's estimated row size
    * (`GraftBridge.estimatedRowBytes`) is at or below
    * `spark.sql.autoBroadcastJoinThreshold`. None when the threshold is
    * negative. Runs no job.
    */
  def broadcastRowCap(df: DataFrame): Option[Long] = broadcastRowCap(df.sparkSession, df.schema)

  /** [[broadcastRowCap]] for rows of `schema` in `spark`'s session, for a
    * frame not built yet.
    */
  def broadcastRowCap(spark: SparkSession, schema: StructType): Option[Long] = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) None else Some(threshold / GraftBridge.estimatedRowBytes(schema))
  }

  /** Compute `df` now and cut its lineage: the one materialization rule
    * of the operator library. With a checkpoint dir set on the
    * SparkContext (`setCheckpointDir`, the deployment path a cluster job
    * already has) it writes a reliable `checkpoint()` there, which
    * survives executor loss; without one it keeps the blocks on the
    * executors that computed them (`localCheckpoint()`), the fast path
    * on a single-JVM master, where losing an executor loses the app
    * anyway. Both are eager: the frame is computed before this returns.
    *
    * Retention: the returned frame scans the checkpoint, so nothing is
    * released here. Local checkpoint blocks are freed by Spark's
    * ContextCleaner once the caller drops the frame. Reliable checkpoint
    * files outlive the app unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` is set; a
    * job that materializes repeatedly should set it, or point the
    * checkpoint dir at a per-run path it deletes afterwards.
    *
    * A frame whose optimized plan is a `LocalRelation` (a driver path's
    * result, or a projection of one) comes back as it is, with no job:
    * its rows are already held on the driver, so there is no lineage to
    * cut.
    */
  def materialize(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) df
    else if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Run `body` with SQL confs temporarily overridden, restoring the
    * previous values (or unsetting ones that were unset) even on
    * failure. Session-scoped: safe for the sequential bench/verify
    * drivers; concurrent queries on the same session would observe the
    * override for its duration.
    */
  def withSqlConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    // `contains`, not `getOption`: the latter reports a registered
    // conf's default for an unset key, which would then be set on exit
    val prev = kvs.map { case (k, _) =>
      k -> (if (spark.sessionState.conf.contains(k)) Some(spark.conf.get(k)) else None)
    }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run the distributed loop of the iterative operator `name` (e.g.
    * "connectedComponents"): `body` persists the loop's inputs through
    * [[Loop.persist]] and runs its [[Loop.rounds]]. When `body` exits,
    * normally or by exception, every working cache it still holds is
    * unpersisted.
    *
    * While `body` runs, AQE may re-size the output partitioning of plans
    * materialized into the loop's caches
    * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`,
    * default false), set on the caller's session and restored (or unset)
    * on exit by [[withSqlConf]]. Spark's default pins every cached plan
    * at the full session shuffle width so downstream consumers can reuse
    * its partitioning; for the loops that pin is exactly wrong — each
    * round re-reads label/edge caches orders of magnitude smaller than
    * the session width, so every per-round map stage schedules a full
    * wave of micro-tasks. Measured (r20, sf0.1/local[32], A/B in one
    * session): with AQE allowed to size the caches, op_graph_components
    * 548→52 tasks and 2.50→1.72 s, op_graph_pagerank 844→35 tasks and
    * 2.54→1.37 s, llm_dedup_cluster_stats 491→47 tasks and 3.19→2.33 s.
    * Scale-safe by construction: AQE sizes by measured bytes, so
    * corpus-scale caches keep their width.
    */
  private[ops] def loop[A](spark: SparkSession, name: String)(body: Loop => A): A =
    withSqlConf(spark, "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true") {
      val loop = new Loop(spark, name)
      try body(loop) finally loop.held.foreach(_.unpersist())
    }

  /** The working caches and rounds of one [[loop]]. */
  private[ops] final class Loop private[Tuning] (spark: SparkSession, name: String) {
    private[Tuning] val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** `df.persist()`, held until the loop exits; persisted by a round's
      * step, until the end of that round.
      */
    def persist(df: DataFrame): DataFrame = { held += df; df.persist() }

    /** Run up to `maxRounds` rounds over a state frame and return the last
      * state with whether it converged: whether the last round's state has
      * no row that `changed` holds for (always false without `changed`,
      * which runs exactly `maxRounds` rounds).
      *
      * `start` and each round's `step(state)` are persisted and computed
      * into their cache by one count (of the rows `changed` holds for,
      * when given); then the round's other caches and the previous state
      * are released. `step` gets the state flattened to an O(1) plan over
      * its cache ([[org.apache.spark.sql.GraftBridge.flattenPlan]]), so a
      * round's plan never re-nests earlier rounds, and the returned state
      * is flattened too. Every job of round k (the start's count is round
      * 0) carries the description "`name` round k"; the caller's
      * description comes back on return, normally or by exception.
      */
    def rounds(start: DataFrame, maxRounds: Int, changed: Option[Column] = None)(
        step: DataFrame => DataFrame): (DataFrame, Boolean) = {
      val sc = spark.sparkContext
      val caller = sc.getLocalProperty("spark.job.description")
      try {
        sc.setJobDescription(s"$name round 0")
        var cached = persist(start)
        cached.count()
        var state = GraftBridge.flattenPlan(cached)
        var round = 0
        var converged = false
        while (round < maxRounds && !converged) {
          round += 1
          sc.setJobDescription(s"$name round $round")
          val mark = held.length
          val next = persist(step(state))
          converged = changed.fold { next.count(); false }(c => next.filter(c).count() == 0)
          (held.slice(mark, held.length - 1) :+ cached).foreach { df => held -= df; df.unpersist() }
          cached = next
          state = GraftBridge.flattenPlan(cached)
        }
        (state, converged)
      } finally sc.setJobDescription(caller)
    }
  }

  /** The narrowest width [[loopPartitions]] derives. */
  private val MinLoopPartitions = 4

  /** Data-proportional width for an explicit repartition of a working set:
    * one partition per ~100k rows, floored at [[MinLoopPartitions]] (tiny
    * frames keep a little parallelism for compute-dense per-row work),
    * capped at the session width so corpus-scale inputs keep the
    * configured parallelism. `rows` is by name: a session at or under the
    * floor gets the floor whatever the count, so the count is not taken.
    */
  def loopPartitions(rows: => Long, sessionParts: Int): Int =
    if (sessionParts <= MinLoopPartitions) MinLoopPartitions
    else math.max(MinLoopPartitions.toLong,
      math.min(sessionParts.toLong, rows / 100000L + 1L)).toInt
}
