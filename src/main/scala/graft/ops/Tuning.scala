package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** Path choice, materialization, working caches and scoped conf for the
  * iterative operators (connected components, PageRank, BPE induction).
  *
  * Path choice: each of them reads its working set once through
  * [[broadcastRows]]. A working set Spark would broadcast (rows times
  * Catalyst's estimated row size at or under
  * `spark.sql.autoBroadcastJoinThreshold`) comes back as driver rows,
  * and the operator runs its rounds on the driver over Catalyst values:
  * no per-round job, working cache or conf write. Measured (sf0.001,
  * `local[4]`, registered tables): `op_graph_pagerank` builds in 3 jobs
  * on the driver path against 30 on the loop path, `llm_bpe_learn` and
  * `llm_bpe_pipeline` in 4 against 46 each. Anything larger, or any
  * session with the threshold at `-1`, takes the distributed loop.
  *
  * The loops run many small actions over working frames that are orders
  * of magnitude smaller than the input the session conf was sized for:
  * at bench scale a few thousand label/vocab rows under a 32-partition
  * session conf, so every per-round shuffle schedules a wave of
  * micro-tasks and the loop is pure scheduling overhead. Measured (r20,
  * sf0.1/local[32]): `op_graph_components` ran 47 jobs / 1042 tasks for
  * ~1 s of real work — and the r19 driver found it 1.8× FASTER on 8
  * cores than 32. Guide §2.2/§2.5: partition count must track data, not
  * a constant.
  *
  * The loop-side fix: derive the loop's shuffle-partition count from a
  * measured row count of its working set and scope
  * `spark.sql.shuffle.partitions` over the loop body only, restoring
  * the session value after. AQE stays ON — measured, disabling it buys
  * nothing once the partition width is right, and it keeps runtime
  * coalescing/skew handling for the edge-heavy rounds. At corpus scale
  * the derived width hits the session cap and the scope is a no-op, so
  * nothing here is a local-mode-only constant.
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
  def broadcastRows(df: DataFrame): Option[Array[InternalRow]] = {
    import org.apache.spark.sql.GraftBridge
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) None else {
      val cap = math.min(threshold / GraftBridge.estimatedRowBytes(df), Int.MaxValue - 1L).toInt
      val rows = GraftBridge.collectInternal(df.limit(cap + 1))
      if (rows.length > cap) None else Some(rows)
    }
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
    */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** The working caches of one operator call; see [[withCaches]]. */
  final class Caches private[Tuning] {
    private[Tuning] val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    /** `df.persist()`, held until [[release]] or the scope's exit. */
    def persist(df: DataFrame): DataFrame = { held += df; df.persist() }
    /** Unpersist `df` before the scope exits. */
    def release(df: DataFrame): Unit = { held -= df; df.unpersist() }
  }

  /** Run `body` with a scope of working caches, unpersisting every frame
    * it still holds when `body` exits, normally or by exception.
    */
  def withCaches[A](body: Caches => A): A = {
    val caches = new Caches
    try body(caches) finally caches.held.foreach(_.unpersist())
  }

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

  /** Let AQE re-size the output partitioning of plans materialized into
    * the block's `persist()` caches
    * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`,
    * default false). Spark's default pins every cached plan at the full
    * session shuffle width so downstream consumers can reuse its
    * partitioning; for the iterative loops that pin is exactly wrong —
    * each round re-reads label/edge caches orders of magnitude smaller
    * than the session width, so every per-round map stage schedules a
    * full wave of micro-tasks. Measured (r20, sf0.1/local[32], A/B in
    * one session): with AQE allowed to size the caches,
    * op_graph_components 548→52 tasks and 2.50→1.72 s,
    * op_graph_pagerank 844→35 tasks and 2.54→1.37 s,
    * llm_dedup_cluster_stats 491→47 tasks and 3.19→2.33 s. Scale-safe
    * by construction: AQE sizes by measured bytes, so corpus-scale
    * caches keep their width.
    */
  def withAqeSizedCaches[A](spark: SparkSession)(body: => A): A =
    withSqlConf(spark,
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")(body)

  /** The narrowest loop width [[loopPartitions]] derives. */
  private val MinLoopPartitions = 4

  /** Data-proportional shuffle width for loop-internal frames: one
    * partition per ~100k rows, floored at [[MinLoopPartitions]] (tiny
    * frames keep a little parallelism for compute-dense per-row work —
    * measured: width 1 costs the BPE pair aggregation 40%), capped at the
    * session width so corpus-scale loops keep the configured parallelism.
    * `rows` is by name: a session at or under the floor gets the floor
    * whatever the count, so the count is not taken.
    */
  def loopPartitions(rows: => Long, sessionParts: Int): Int =
    if (sessionParts <= MinLoopPartitions) MinLoopPartitions
    else math.max(MinLoopPartitions.toLong,
      math.min(sessionParts.toLong, rows / 100000L + 1L)).toInt

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to
    * [[loopPartitions]]`(rows)` through [[withSqlConf]]. The conf is read
    * at action time, so every action `body` runs — including frames it
    * materializes — plans its exchanges at the scoped width; frames
    * RETURNED lazily plan at the caller's width as before. No-op when
    * the derived width is not below the session conf (large inputs at
    * scale, or a session at or under the floor, where `rows` is never
    * evaluated).
    */
  def withLoopParallelism[A](spark: SparkSession, rows: => Long)(body: => A): A = {
    val sess = spark.sessionState.conf.numShufflePartitions
    val p = loopPartitions(rows, sess)
    if (p >= sess) body
    else withSqlConf(spark, "spark.sql.shuffle.partitions" -> p.toString)(body)
  }
}
