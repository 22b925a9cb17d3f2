package graft

import org.apache.spark.sql.functions._

/** SQL-semantics regression suite for the reference quirks we deliberately
  * do NOT replicate (SURVEY.md §2.9) — each test pins the standard-SQL
  * behavior the oracle expects, so a future "optimization" can't quietly
  * reintroduce pandas semantics.
  */
class SemanticsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](sql: String): T = {
    initLog()
    spark.sql(s"SELECT $sql").head().getAs[T](0)
  }
  private def isNull(sql: String): Boolean = spark.sql(s"SELECT $sql").head().isNullAt(0)

  test("three-valued logic truth table (quirks Q2/Q5: pandas NaN==x is False, SQL is NULL)") {
    assert(isNull("CAST(NULL AS INT) = 1"))
    assert(isNull("NOT CAST(NULL AS BOOLEAN)"))
    assert(one[Boolean]("CAST(NULL AS BOOLEAN) OR TRUE"))
    assert(isNull("CAST(NULL AS BOOLEAN) OR FALSE"))
    assert(!one[Boolean]("CAST(NULL AS BOOLEAN) AND FALSE"))
    assert(isNull("CAST(NULL AS BOOLEAN) AND TRUE"))
    assert(one[Boolean]("CAST(NULL AS INT) <=> CAST(NULL AS INT)")) // null-safe eq
  }

  test("LIKE is anchored and NULL-propagating (quirks Q3/Q4: ref is unanchored, NULL→TRUE)") {
    assert(one[Boolean]("'abc' LIKE 'abc'"))
    assert(!one[Boolean]("'xabcx' LIKE 'abc'")) // ref's regex contains() would match
    assert(one[Boolean]("'xabcx' LIKE '%abc%'"))
    assert(one[Boolean]("'a_c' LIKE 'a\\\\_c'")) // escaped underscore is literal
    assert(isNull("CAST(NULL AS STRING) LIKE 'a%'")) // ref maps to TRUE
  }

  test("COUNT(col) skips NULLs, COUNT(*) does not (quirk Q1: ref counts NULLs)") {
    val df = Seq(Some(1), None, Some(3)).toDF("x")
    val r = df.agg(count(col("x")), count(lit(1))).head()
    assert(r.getLong(0) === 2 && r.getLong(1) === 3)
  }

  test("FULL OUTER join does not degrade to inner (quirk Q9)") {
    val l = Seq((1, "a")).toDF("k", "lv")
    val r = Seq((2, "b")).toDF("k2", "rv")
    val out = l.join(r, col("k") === col("k2"), "full").collect()
    assert(out.length === 2) // ref's executor would return 0 (inner on disjoint keys)
  }

  test("sample stddev/variance use ddof=1 (quirk Q7 — the one quirk that matches SQL)") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val v = df.agg(var_samp(col("x"))).head().getDouble(0)
    assert(math.abs(v - 5.0 / 3.0) < 1e-12) // Σ(x-2.5)²/(n-1)
  }

  test("division is double division; ANSI divide-by-zero errors, try_divide yields NULL") {
    assert(math.abs(one[Double]("5 / 2") - 2.5) < 1e-15)
    assert(one[Long]("5 DIV 2") === 2L)
    // Spark 4 runs ANSI mode by default: x/0 raises; try_divide is the
    // NULL-yielding escape hatch (oracles never divide by zero)
    intercept[Exception](spark.sql("SELECT 1 / 0").collect())
    assert(isNull("try_divide(1, 0)"))
  }

  test("Exasol ADD_unit forms never silently truncate a timestamp's time-of-day") {
    initLog()
    // ADD_MONTHS/ADD_YEARS are type-preserving
    val row = Engine.execute(spark,
      """SELECT ADD_MONTHS(TIMESTAMP '2020-01-31 23:59:59', 1) AS ts2,
        |       ADD_YEARS(DATE '2020-02-29', 1) AS d2,
        |       ADD_DAYS(DATE '2020-01-02', 1) AS d1""".stripMargin,
      dialect = Dialect.ExasolIsh)
    assert(row.schema("ts2").dataType.typeName === "timestamp")
    assert(row.schema("d2").dataType.typeName === "date")
    assert(row.schema("d1").dataType.typeName === "date")
    val r = row.head()
    // month-end clamping preserved, time-of-day intact on timestamps
    assert(r.getAs[java.sql.Timestamp]("ts2").toString === "2020-02-29 23:59:59.0")
    assert(r.getAs[java.sql.Date]("d2").toString === "2021-02-28")
    assert(r.getAs[java.sql.Date]("d1").toString === "2020-01-03")
    // ADD_DAYS/ADD_WEEKS keep a timestamp's time of day
    val ts = Engine.execute(spark,
      """SELECT ADD_DAYS(TIMESTAMP '2020-01-02 03:04:05', 1) AS d,
        |       ADD_WEEKS(TIMESTAMP '2020-01-02 03:04:05', 2) AS w""".stripMargin,
      dialect = Dialect.ExasolIsh)
    assert(ts.schema.map(_.dataType.typeName) === Seq("timestamp", "timestamp"))
    assert(ts.head().getAs[java.sql.Timestamp]("d").toString === "2020-01-03 03:04:05.0")
    assert(ts.head().getAs[java.sql.Timestamp]("w").toString === "2020-01-16 03:04:05.0")
    // NULL input propagates NULL
    assert(Engine.execute(spark,
      "SELECT ADD_DAYS(CAST(NULL AS TIMESTAMP), 1) AS d",
      dialect = Dialect.ExasolIsh).head().isNullAt(0))
  }

  test("aggregate FILTER: the windowed form Spark rejects works through the shim") {
    initLog()
    import spark.implicits._
    Seq((1L, "a", "F"), (2L, "a", "O"), (3L, "b", "F")).toDF("id", "g", "st")
      .createOrReplaceTempView("aggf_t")
    // native Spark parses grouped FILTER but rejects it on a window fn
    intercept[Exception](spark.sql(
      "SELECT id, SUM(id) FILTER (WHERE st = 'F') OVER (PARTITION BY g) FROM aggf_t").collect())
    val out = Engine.execute(spark,
      """SELECT id, SUM(id) FILTER (WHERE st = 'F') OVER (PARTITION BY g) AS s
        |FROM aggf_t ORDER BY id""".stripMargin,
      dialect = Dialect.Postgresish)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 1L), (2L, 1L), (3L, 3L)))
  }

  test("* before replace() in expression position parses as multiplication") {
    initLog()
    Seq((2L, "aaa"), (3L, "ab")).toDF("k", "nm")
      .createOrReplaceTempView("star_mul_t")
    // `expr * replace(...)` is arithmetic over the replace() string
    // function, NOT a malformed star clause — both dialects that run
    // the star-REPLACE rewriter must leave it alone
    for (d <- Seq(Dialect.DuckDbish, Dialect.BigQueryish)) {
      val out = Engine.execute(spark,
        """SELECT k, k * length(replace(nm, 'a', 'xx')) AS x
          |FROM star_mul_t ORDER BY k""".stripMargin, dialect = d)
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        Seq((2L, 12L), (3L, 9L)))
    }
  }

  test("* REPLACE rejects multi-table FROM, expands derived FROM (single-relation scope)") {
    initLog()
    import spark.implicits._
    Seq((1L, 10L)).toDF("k", "v").createOrReplaceTempView("srt_a")
    Seq((1L, 20L)).toDF("k", "w").createOrReplaceTempView("srt_b")
    // a JOIN would make the star cover BOTH tables — expanding one side
    // silently drops the other's columns, so it must fail fast
    intercept[Exception](Engine.execute(spark,
      "SELECT * REPLACE (v * 2 AS v) FROM srt_a JOIN srt_b ON srt_a.k = srt_b.k",
      dialect = Dialect.DuckDbish))
    // a subquery FROM is a SINGLE relation and expands from its ANALYZED
    // schema since r18 (it does NOT fall through to a later FROM's table
    // — the expansion resolves against the derived output itself)
    assert(Engine.execute(spark,
      "SELECT * REPLACE (v * 2 AS v) FROM (SELECT * FROM srt_a) t",
      dialect = Dialect.DuckDbish).head().getLong(1) === 20L)
    // …but a JOIN after the derived table still fails fast
    intercept[Exception](Engine.execute(spark,
      "SELECT * REPLACE (v * 2 AS v) FROM (SELECT * FROM srt_a) t " +
        "JOIN srt_b ON t.k = srt_b.k",
      dialect = Dialect.DuckDbish))
    // single table + alias + WHERE stays supported
    assert(Engine.execute(spark,
      "SELECT * REPLACE (v * 2 AS v) FROM srt_a a WHERE k = 1",
      dialect = Dialect.DuckDbish).head().getLong(1) === 20L)
  }

  test("* REPLACE expands the star in position from the registered view") {
    initLog()
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "v")
      .createOrReplaceTempView("star_replace_t")
    val out = Engine.execute(spark,
      "SELECT * REPLACE (v * 2 AS v) FROM star_replace_t ORDER BY k",
      dialect = Dialect.DuckDbish)
    // replaced column keeps its POSITION and name
    assert(out.columns.toSeq === Seq("k", "s", "v"))
    assert(out.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((1L, 20L), (2L, 40L)))
    // a replacement naming a missing column fails fast, as does a
    // FROM the rewriter cannot resolve
    intercept[Exception](Engine.execute(spark,
      "SELECT * REPLACE (x + 1 AS x) FROM star_replace_t",
      dialect = Dialect.DuckDbish))
    intercept[Exception](Engine.execute(spark,
      "SELECT * REPLACE (v * 2 AS v) FROM table_nobody_registered",
      dialect = Dialect.DuckDbish))
  }

  test("Engine.execute wraps parse and analysis failures in ExecuteError") {
    intercept[ExecuteError](Engine.execute(spark, "SELEC nonsense"))
    intercept[ExecuteError](Engine.execute(spark, "SELECT * FROM table_that_is_not_there"))
  }

  test("WITH RECURSIVE reaches the fixpoint (depth = chain length, no early stop)") {
    // a 12-node path: recursion must run 12 levels, well past any default
    // "a few iterations" unrolling
    val edges = (1 to 11).map(i => (i, i + 1)).toDF("src", "dst")
    edges.createOrReplaceTempView("rec_edges")
    val out = spark.sql(
      """WITH RECURSIVE walk(node, depth) AS (
        |  SELECT 1, 0
        |  UNION ALL
        |  SELECT e.dst, w.depth + 1 FROM rec_edges e JOIN walk w ON e.src = w.node)
        |SELECT MAX(depth) AS d, COUNT(*) AS n FROM walk""".stripMargin).head()
    assert(out.getInt(0) === 11 && out.getLong(1) === 12L)
  }

  test("correlated LATERAL with LIMIT equals the window-function top-k") {
    val df = Seq((1, "a", 5.0), (1, "b", 7.0), (1, "c", 3.0),
      (2, "d", 1.0), (2, "e", 2.0)).toDF("g", "name", "score")
    df.createOrReplaceTempView("lat_t")
    val lateral = spark.sql(
      """SELECT k.g, top.name FROM (SELECT DISTINCT g FROM lat_t) k,
        |  LATERAL (SELECT name FROM lat_t WHERE g = k.g
        |           ORDER BY score DESC, name LIMIT 2) top""".stripMargin)
    val window = spark.sql(
      """SELECT g, name FROM (SELECT g, name, ROW_NUMBER() OVER (
        |  PARTITION BY g ORDER BY score DESC, name) rn FROM lat_t) WHERE rn <= 2""".stripMargin)
    assert(lateral.exceptAll(window).isEmpty && window.exceptAll(lateral).isEmpty)
  }

  test("Engine.execute applies declared schemas (reference schema argument)") {
    import org.apache.spark.sql.types._
    val df = Seq(("1", "x"), ("2", "y")).toDF("k", "v")
    val out = Engine.execute(spark, "SELECT SUM(k) AS s FROM t", Map("t" -> df),
      schemas = Map("t" -> StructType(Seq(StructField("k", LongType)))))
    assert(out.head().getLong(0) === 3L)
  }
}
