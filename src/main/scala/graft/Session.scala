package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built or adopted; every main and the
  * test harness get theirs here.
  *
  * A session built here runs `local[cores]` with one shuffle partition
  * per core (not Spark's 200), the session time zone pinned to UTC (the
  * oracles and `Tables.normalizeEventTs` read timestamps in UTC), the UI
  * off, [[graft.plans.GraftExtensions]] registered, and a generated-code
  * cache large enough for everything one pass over the driver queries
  * compiles (3,503 compilations at sf0.001, `local[4]`): with Spark's
  * default of 100 entries a second pass in the same session compiled
  * 5,178 times again, with 10,000 it compiled 100 times. The session
  * stops with the JVM, through the shutdown hook its SparkContext
  * registers. A session the JVM already has belongs to its caller: it
  * is returned as it is, with the extensions attached live, and nothing
  * here stops it.
  */
object Session {

  /** Cores of a session built here: `SPARK_GRAFT_CPUS`, or else every
    * processor the JVM sees.
    */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The JVM's active or default session, or else a new `local[cores]`
    * one.
    */
  def getOrCreate(cores: Int = Session.cores): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(spark) =>
        graft.plans.GraftExtensions.install(spark)
        spark
      case None =>
        val spark = SparkSession.builder()
          .master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores.toLong)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", false)
          .config("spark.sql.codegen.cache.maxEntries", 10000L)
          .withExtensions(new graft.plans.GraftExtensions)
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        spark
    }
}
