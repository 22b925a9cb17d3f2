package graft

import org.apache.spark.sql.functions._

/** Registration-path regression gate (VERDICT r8 item 3): the round-8
  * breakage — a testdata schema change in ONE table (`events.ts` went
  * TIMESTAMP(NANOS)→TIMESTAMP(MICROS)) crashing ALL `Tables.sql`-routed
  * queries at eager view registration — must be a red test before commit,
  * not a post-hoc verdict finding.
  *
  * These tests run against the DRIVER'S actual testdata layout, not a
  * synthesized fixture, so any generator-side schema drift lands here
  * first. One query per routing family: TPC-H (SQL text through
  * `Tables.sql`), dialect (transpile → `Tables.sql`), events-reading
  * op_*, and streaming batch-replay.
  */
class RegistrationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("Tables.register registers all ten views from the driver testdata") {
    initLog()
    Tables.register(spark, dir)
    Tables.all.foreach { n =>
      assert(spark.catalog.tableExists(n), s"view '$n' missing after register")
      // force full analysis of the view body, not just catalog presence
      assert(spark.table(n).schema.nonEmpty, s"view '$n' has no schema")
    }
  }

  test("events ts normalizes to TimestampType for any generator version") {
    initLog()
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType,
      s"ts is ${df.schema("ts").dataType}, want session-zoned TimestampType")
    // values must be sane wall-clock instants, not mis-scaled epochs
    val (lo, hi) = {
      val r = df.agg(min(year(col("ts"))), max(year(col("ts")))).head()
      (r.getInt(0), r.getInt(1))
    }
    assert(lo >= 1990 && hi <= 2100, s"ts years out of range: [$lo,$hi]")
  }

  test("one query per routing family analyzes and returns rows") {
    initLog()
    // TPC-H: SQL text through Tables.sql/Engine.execute
    assert(Tables.sql(spark, dir, TpchQueries.q1.spark).count() > 0, "q1")
    // dialect: transpiled SQL through the same route
    val dialectQ = ops.DialectQueries.all.head
    assert(dialectQ.fn(spark, dir).count() > 0, s"dialect ${dialectQ.name}")
    // events-reading operator query
    val evQ = streaming.StreamQueries.all.head
    assert(evQ.fn(spark, dir).count() > 0, s"stream ${evQ.name}")
  }

  test("concurrent register gives the views loading each table alone gives") {
    initLog()
    val registered = spark.newSession()
    Tables.register(registered, dir)
    val alone = spark.newSession() // never registered: every load infers
    Tables.all.foreach { n =>
      val want = Tables.load(alone, dir, n)
      assert(registered.table(n).schema == want.schema, s"view '$n' schema")
      assert(Tables.load(registered, dir, n).schema == want.schema, s"load '$n' schema")
      assert(registered.table(n).count() == want.count(), s"view '$n' rows")
    }
  }

  test("every registration job runs under the caller's job group") {
    initLog()
    val (_, jobs) = jobsUnderGroup(Tables.register(spark.newSession(), dir))
    // one schema-inference job per table, none of them lost to a pool
    // thread without the caller's local properties
    assert(jobs == Tables.all.size)
  }

  test("load after register runs no job for that directory, and reads any other") {
    initLog()
    val s = spark.newSession()
    Tables.register(s, dir)
    val (schemas, jobs) = jobsUnderGroup(Tables.all.map(n => Tables.load(s, dir, n).schema))
    assert(jobs == 0, "loads of the registered directory must reuse its schemas")
    assert(schemas.forall(_.nonEmpty))
    val other = java.nio.file.Files.createTempDirectory("graft_load").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/nation.parquet"),
      java.nio.file.Paths.get(s"$other/nation.parquet"))
    val (n, otherJobs) = jobsUnderGroup(Tables.load(s, other, "nation").schema)
    assert(otherJobs > 0, "another directory must be read, not served from the cache")
    assert(n == schemas(Tables.all.indexOf("nation")))
  }

  test("a NANOS events footer still loads after the session drops nanosAsLong") {
    initLog()
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val d = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    Tables.all.filter(_ != "events").foreach { n =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/$n.parquet"),
        java.nio.file.Paths.get(s"$d/$n.parquet"))
    }
    // Spark never writes TIMESTAMP(NANOS), so parquet-mr writes the footer
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$d/events.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 2500L))
    finally w.close()
    val s = spark.newSession()
    Tables.register(s, d)
    // registration's probe set the flag; a session that later drops it
    // still scans the long `ts` the registered schema declares, with
    // either reader, and the load itself writes no conf
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(s.conf.get(key) == "true", "the NANOS footer must take the flagged read")
    s.conf.unset(key)
    Seq("true", "false").foreach { vectorized =>
      s.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
      val (ev, jobs) = jobsUnderGroup(Tables.load(s, d, "events"))
      assert(jobs == 0, "the registered schema must be reused")
      val got = ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
      assert(got.toSeq == Seq(2L), s"vectorized=$vectorized")
      assert(s.conf.get(key) == "false")
    }
  }

  test("register survives one broken table and still serves the other nine") {
    initLog()
    // stage a layout where exactly one table is unreadable garbage
    val d = java.nio.file.Files.createTempDirectory("graft_reg").toString
    Tables.all.foreach { n =>
      val src = java.nio.file.Paths.get(s"$dir/$n.parquet")
      val dst = java.nio.file.Paths.get(s"$d/$n.parquet")
      if (n == "events")
        java.nio.file.Files.writeString(dst, "not a parquet file")
      else java.nio.file.Files.copy(src, dst)
    }
    Tables.register(spark, d)
    assert(spark.sql("SELECT count(*) FROM nation").head().getLong(0) > 0,
      "unrelated table must survive a broken sibling")
    assert(!spark.catalog.tableExists("events"),
      "broken table must not leave a stale/bogus view")
    // registration was NOT cached (failures present) — a later register
    // with a good dir must fully recover, including the broken table
    Tables.register(spark, dir)
    assert(spark.sql("SELECT count(*) FROM events").head().getLong(0) > 0,
      "recovery register must restore the previously-broken view")
  }

  test("nanos->micros normalization FLOORS pre-epoch timestamps (DuckDB cast parity)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // -1500 ns: truncation toward zero gives -1 us; DuckDB's CAST floors
    // to -2 us. 2500 ns floors to 2 us on both.
    val df = Seq(-1500L, -1000L, 2500L).toDF("ts")
    val got = Tables.normalizeEventTs(df)
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(got.toSeq === Seq(-2L, -1L, 2L))
  }
}
