package graft

import java.util.concurrent.Executors

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Test-data table registry: loads the driver's parquet tables (TESTDATA.md)
  * and registers them as temp views so both [[Engine.execute]] SQL and the
  * DataFrame-API operator library see the same catalog.
  *
  * Scale note: `spark.read.parquet(...)` without a schema runs one Spark job
  * per table to infer it from the footer. [[register]] runs the ten
  * concurrently and keeps the schemas, so later [[load]]s of the same
  * session and directory run no job at all. Parquet scans get filter
  * pushdown + column pruning from Catalyst, so every query here reads only
  * the columns/row-groups it needs — the same property that makes the plan
  * viable at 100 TB.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One table as a DataFrame. For the session and directory of the last
    * complete [[register]], the read reuses the schema registration
    * inferred (no Spark job); any other directory is read fresh. Each call
    * returns a new frame, so two loads of one table self-join like two
    * reads. A NANOS `events.ts` registered as long still scans after the
    * session drops `nanosAsLong`: inference rejects that footer without
    * the flag, a scan given the long schema does not (either Parquet
    * reader), so the reuse path neither needs nor sets it.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val known = Option(registered.get(spark)).filter(_.dir == dir).flatMap(_.schemas.get(name))
    normalized(name, known match {
      case Some(schema) => spark.read.schema(schema).parquet(s"$dir/$name.parquet")
      case None => read(spark, dir, name)
    })
  }

  private def normalized(name: String, raw: DataFrame): DataFrame =
    if (name == "events") normalizeEventTs(raw) else raw

  /** The file as Spark reads it, schema inferred from its footer (one job). */
  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet has shipped `ts` as TIMESTAMP(NANOS) (which Spark's
    // vectorized reader only accepts as long via nanosAsLong) and as
    // TIMESTAMP(MICROS) depending on the generator version — dispatch on
    // the type the footer actually declares rather than assuming either.
    // Probe-first: a plain read succeeds for MICROS footers and the
    // session-global legacy flag never flips; only a footer Spark
    // rejects outright (the NANOS case) sets it. It must then stay set
    // while events plans/executes (the reader consults it lazily), so it
    // is not restored — the probe keeps the flip to the one footer
    // layout that needs it instead of every session that loads events.
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      try spark.read.parquet(path)
      catch {
        // ONLY the NANOS-footer rejection ([PARQUET_TYPE_ILLEGAL],
        // verified against Spark 4.1) takes the flagged retry — a
        // missing path or transient I/O error must propagate without
        // flipping the session-global conf
        case e: org.apache.spark.sql.AnalysisException
            if isNanosFooterRejection(e) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.read.parquet(path)
      }
    } else spark.read.parquet(path)
  }

  /** The NANOS-footer rejection, identified by ERROR CLASS — formatted
    * message text is brittle across Spark versions/locales; fall back to
    * message matching only when the throwable carries no class (the
    * pre-error-class legacy constructor path).
    */
  private[graft] def isNanosFooterRejection(
      e: org.apache.spark.sql.AnalysisException): Boolean = {
    val cls = e.getCondition
    if (cls != null) cls == "PARQUET_TYPE_ILLEGAL"
    else e.getMessage != null && e.getMessage.contains("PARQUET_TYPE_ILLEGAL")
  }

  /** Normalize the `ts` column to session-zoned TimestampType regardless of
    * how the parquet file declared it. With the session timezone pinned to
    * UTC (`graft.Session` pins it), NTZ→LTZ is value-preserving, and the
    * nanos path truncates to micros exactly like DuckDB's
    * CAST(ts_ns AS TIMESTAMP).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      // nanos-as-long: FLOOR division in exact integer arithmetic —
      // double division would lose precision at ~1e18 ns, and a plain
      // `div` truncates toward zero, shifting pre-1970 timestamps with
      // sub-microsecond nanos 1 µs late vs DuckDB's CAST (which floors)
      case LongType => df.withColumn("ts",
        timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000")))
      case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already TimestampType
    }
  }

  /** A session's last complete registration: its directory and the schema
    * each table was read with (before [[normalizeEventTs]]). Schemas, not
    * frames: a frame holds its session, which would pin the weak key.
    */
  private final case class Registration(dir: String, schemas: Map[String, StructType])

  // Keyed by session identity via WeakHashMap: identityHashCode is not
  // unique, and a weak key lets a stopped session's entry be collected.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Registration]())

  // Per-session lock objects: temp views are per-session state, so only
  // same-session registrations need to serialize. A single global monitor
  // around the ten-footer load would make session B's registration
  // wait out session A's parquet I/O for no correctness gain.
  private val regLocks = new java.util.WeakHashMap[SparkSession, Object]()
  private def regLock(spark: SparkSession): Object = regLocks.synchronized {
    var l = regLocks.get(spark)
    if (l == null) { l = new Object; regLocks.put(spark, l) }
    l
  }

  /** Register every test table as a temp view over `dir`. Each table costs
    * one schema-inference job; the ten run concurrently, on a pool bounded
    * by the default parallelism whose threads carry the caller's local
    * properties (job group, description) and active session. Cached:
    * views are only (re)created when the session's current dir changes,
    * so the driver running the whole query map back-to-back pays the ten
    * jobs once.
    */
  def register(spark: SparkSession, dir: String): Unit = regLock(spark).synchronized {
    // the whole check-then-register sequence is one critical section PER
    // SESSION: two threads registering different dirs into the same
    // session would otherwise interleave their per-table views and leave
    // them a MIX of both dirs while the cache claims one dir is fully
    // live; independent sessions proceed in parallel
    if (Option(registered.get(spark)).forall(_.dir != dir)) {
      // Invalidate BEFORE mutating views: if this registration fails
      // partway, the cache must not claim the previous dir is still live.
      registered.remove(spark)
      // Per-table isolation: one table failing analysis (e.g. a testdata
      // schema drift) must not take down queries over the other nine. The
      // failure resurfaces only when a query actually references the table.
      val pool = Executors.newFixedThreadPool(
        math.min(all.size, spark.sparkContext.defaultParallelism))
      val loaded = try {
        val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        all.map(n => SQLExecution.withThreadLocalCaptured(session, pool)(Try(read(spark, dir, n))))
          .map(_.get())
      } finally pool.shutdown()
      // views in the fixed `all` order, on the calling thread
      val failures = all.zip(loaded).flatMap { case (n, raw) =>
        raw.map(normalized(n, _).createOrReplaceTempView(n)).failed.toOption.map(n -> _)
      }
      if (failures.isEmpty) // cache only when all ten registered
        registered.put(spark, Registration(dir, all.zip(loaded.map(_.get.schema)).toMap))
      else {
        failures.foreach { case (n, e) =>
          System.err.println(s"graft.Tables: failed to register '$n' from $dir: ${e.getMessage}")
          spark.catalog.dropTempView(n) // stale view from a previous dir would be wrong
        }
      }
    }
  }

  /** Register views then run one SQL statement through the engine. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    register(spark, dir)
    Engine.execute(spark, query)
  }
}
