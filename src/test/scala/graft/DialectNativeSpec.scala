package graft

import Dialect._

/** Spark-native first: a dialect's call table transforms or renames a
  * name only where Spark's builtin of that name returns other rows. The
  * lint lists, per dialect, every table name Spark's function registry
  * also knows, with the difference that keeps its entry; after a Spark
  * upgrade it names the entries to probe again. The row tests run the
  * dialect names the tables leave to Spark against hand-written Spark
  * twins through [[Engine.execute]].
  */
class DialectNativeSpec extends SparkSpec {

  private val castTypes = "unsized VARCHAR and TEXT, which Spark's parser rejects"
  private val boundaries = "counts part boundaries crossed; Spark's counts whole intervals"
  private val dateAddType = "Spark's returns TIMESTAMP for a DATE; the dialect keeps DATE"
  private val templates = "Oracle-style templates (YYYY-MM-DD HH24:MI), not Java patterns"
  private val orderedAgg = "takes an inline ORDER BY and keeps NULL elements; Spark's does neither"

  private val differs: Map[Dialect, Map[String, String]] = Map(
    DuckDbish -> Map("array_agg" -> orderedAgg, "cast" -> castTypes),
    Trinoish -> Map("array_agg" -> orderedAgg,
      "date_format" -> "MySQL % codes, not Java patterns"),
    Snowflakeish -> Map(
      "array_agg" -> "ordered by WITHIN GROUP, which Spark's array_agg does not take",
      "dateadd" -> dateAddType, "datediff" -> boundaries,
      "to_char" -> "Snowflake's TO_VARCHAR, renamed to reach its entry",
      "to_varchar" -> "Snowflake format elements (YYYY-MM-DD), not Java patterns",
      "try_to_date" -> "the format argument is Snowflake format elements; the entry refuses it",
      "try_to_number" -> "Spark's requires a format; Snowflake's 1- and 3-argument forms are casts"),
    BigQueryish -> Map(
      "array_agg" -> "IGNORE NULLS, inline ORDER BY/LIMIT, and it raises on a NULL element",
      "date_add" -> "takes INTERVAL n part; Spark's day-count form passes through",
      "date_sub" -> "takes INTERVAL n part; Spark's day-count form passes through",
      "date_diff" -> ("takes a trailing part and " + boundaries),
      "split" -> "a literal delimiter with a comma default; Spark's is a regex"),
    MySqlish -> Map(
      "date_format" -> "MySQL % codes, not Java patterns",
      "dayname" -> "MySQL returns full names ('Monday'); Spark abbreviates ('Mon')",
      "monthname" -> "MySQL returns full names ('January'); Spark abbreviates ('Jan')",
      "locate" -> ("Spark's 3-argument form returns 0 for a NULL start, MySQL NULL; " +
        "the 2-argument form passes through")),
    Postgresish -> Map("array_agg" -> orderedAgg, "cast" -> castTypes,
      "extract" -> "EPOCH is no Spark field, and DOW counts Sunday as 0 (Spark: 1)",
      "string_agg" -> "takes an inline ORDER BY; the plain form passes through",
      "to_char" -> templates),
    SqliteIsh -> Map(
      "date" -> "takes modifiers ('+1 months', 'start of month'); date(x) passes through"),
    OracleIsh -> Map("to_char" -> templates, "to_date" -> templates),
    TsqlIsh -> Map("dateadd" -> dateAddType, "datediff" -> boundaries,
      "cast" -> "SQL Server type names: DATETIME2 is no Spark type, and FLOAT is 64-bit",
      "datepart" -> "T-SQL part abbreviations (yy, qq, dd, mi, …)",
      "isnull" -> "T-SQL's is a 2-argument coalesce; Spark's a 1-argument predicate",
      "len" -> "T-SQL's excludes trailing spaces; Spark's counts them"),
    RedshiftIsh -> Map("cast" -> castTypes, "dateadd" -> dateAddType,
      "datediff" -> boundaries, "to_char" -> templates, "to_date" -> templates),
    ClickHouseIsh -> Map(
      "position" -> "ClickHouse takes (haystack, needle); Spark (needle, haystack)"),
    TableauIsh -> Map(
      "dateadd" -> "takes a quoted part name ('month')",
      "datediff" -> ("takes a quoted part name and " + boundaries),
      "datepart" -> "takes a quoted part name ('weekday')",
      "float" -> "Tableau FLOAT is double precision; Spark's float is 32-bit",
      "if" -> "Tableau IF is a block (IF … THEN … END), not a call",
      "split" -> "SPLIT(s, delim, n) returns token n of a literal split"),
    ExasolIsh -> Map(
      "add_months" -> "Spark's returns DATE for a TIMESTAMP; Exasol keeps the time of day",
      "to_char" -> templates, "to_date" -> templates,
      "trunc" -> "Exasol format names (YYYY, Q, DD, HH, MI); Spark's trunc returns NULL for HH"),
    DruidIsh -> Map(
      "div" -> "Druid casts the operands to BIGINT first; Spark's div divides exact values"))

  private val dialects: Seq[Dialect] = Seq(DuckDbish, Trinoish, Snowflakeish, BigQueryish,
    MySqlish, Postgresish, SqliteIsh, OracleIsh, TsqlIsh, RedshiftIsh, TeradataIsh,
    ClickHouseIsh, TableauIsh, ExasolIsh, DruidIsh)

  test("every Spark builtin a dialect table shadows has a recorded difference") {
    val shadowed = for {
      d <- dialects
      n <- d.table.names.toSeq.sorted
      if spark.catalog.functionExists(n)
    } yield (d, n)
    val listed = for ((d, m) <- differs.toSeq; n <- m.keys) yield (d, n)
    assert(shadowed.filterNot(listed.contains).isEmpty,
      "table names Spark also runs, with no recorded difference")
    assert(listed.filterNot(shadowed.contains).isEmpty,
      "recorded names no table shadows any more")
  }

  /** Rows 1 and 3 fill every column; row 2 is all NULL. 2024-01-07 is a
    * Sunday, 2024-09-14 a Saturday and 2024-01-01 a Monday.
    */
  private lazy val t = spark.sql(
    """SELECT * FROM VALUES
      |  (1, CAST(2.50 AS DECIMAL(10, 2)), DATE '2024-01-07',
      |   TIMESTAMP '2024-09-14 10:00:00', 'ab  '),
      |  (NULL, NULL, NULL, NULL, NULL),
      |  (3, CAST(0 AS DECIMAL(10, 2)), DATE '2024-01-01',
      |   TIMESTAMP '2024-01-01 00:00:00', ' Xy')
      |AS t(x, m, d, ts, s)""".stripMargin)

  /** `sql` in `dialect` and `twin` in Spark give the same column types
    * and the same rows (output names may differ).
    */
  private def sameRows(dialect: Dialect, sql: String, twin: String): Unit = {
    def run(q: String, d: Dialect) = {
      val df = Engine.execute(spark, q, Map("t" -> t), d)
      (df.schema.map(_.dataType), df.collect().map(_.toString).sorted.toSeq)
    }
    assert(run(sql, dialect) === run(twin, Dialect.Spark), s"\n$dialect: $sql\ntwin: $twin")
  }

  private val decodeTwin = "CASE WHEN x <=> 1 THEN 'a' WHEN x <=> NULL THEN 'n' ELSE 'z' END"

  test("oracle: null-matching DECODE and MINUS are Spark's") {
    sameRows(OracleIsh,
      """SELECT x, DECODE(x, 1, 'a', NULL, 'n', 'z') AS dc,
        |  DECODE(SIGN(x - 2), 1, 'hi', -1, 'lo') AS sg FROM t""".stripMargin,
      s"""SELECT x, $decodeTwin AS dc,
        |  CASE WHEN sign(x - 2) <=> 1 THEN 'hi' WHEN sign(x - 2) <=> -1 THEN 'lo' END AS sg
        |FROM t""".stripMargin)
    sameRows(OracleIsh, "SELECT x FROM t MINUS SELECT 3 FROM t",
      "SELECT x FROM t EXCEPT SELECT 3 FROM t")
  }

  test("redshift: DECODE and LEN are Spark's") {
    sameRows(RedshiftIsh, "SELECT DECODE(x, 1, 'a', NULL, 'n', 'z') AS dc, LEN(s) AS n FROM t",
      s"SELECT $decodeTwin AS dc, char_length(s) AS n FROM t")
  }

  test("exasol: DECODE, ZEROIFNULL and NULLIFZERO are Spark's") {
    sameRows(ExasolIsh,
      "SELECT DECODE(x, NULL, 'n', 'y') AS dc, ZEROIFNULL(m) AS z, NULLIFZERO(m) AS nz FROM t",
      """SELECT CASE WHEN x <=> NULL THEN 'n' ELSE 'y' END AS dc,
        |  coalesce(m, 0) AS z, nullif(m, 0) AS nz FROM t""".stripMargin)
  }

  test("snowflake: DAYNAME, MONTHNAME, LEN, ZEROIFNULL and NULLIFZERO are Spark's") {
    sameRows(Snowflakeish,
      """SELECT DAYNAME(d) AS dd, DAYNAME(ts) AS dt, MONTHNAME(d) AS md, MONTHNAME(ts) AS mt,
        |  LEN(s) AS n, ZEROIFNULL(x) AS z, NULLIFZERO(m) AS nz FROM t""".stripMargin,
      """SELECT date_format(d, 'EEE') AS dd, date_format(ts, 'EEE') AS dt,
        |  date_format(d, 'MMM') AS md, date_format(ts, 'MMM') AS mt,
        |  char_length(s) AS n, coalesce(x, 0) AS z, nullif(m, 0) AS nz FROM t""".stripMargin)
  }

  test("teradata: ZEROIFNULL and NULLIFZERO are Spark's") {
    sameRows(TeradataIsh, "SEL ZEROIFNULL(m) AS z, NULLIFZERO(x) AS nz FROM t",
      "SELECT coalesce(m, 0) AS z, nullif(x, 0) AS nz FROM t")
  }

  test("mysql: WEEKDAY, UCASE, LCASE, CURDATE and 2-argument LOCATE are Spark's") {
    sameRows(MySqlish,
      """SELECT WEEKDAY(d) AS wd, UCASE(s) AS u, LCASE(s) AS l, CURDATE() AS today,
        |  LOCATE('y', s) AS p, DAYNAME(d) AS dn, MONTHNAME(d) AS mn FROM t""".stripMargin,
      """SELECT (dayofweek(d) + 5) % 7 AS wd, upper(s) AS u, lower(s) AS l,
        |  current_date() AS today, instr(s, 'y') AS p,
        |  date_format(d, 'EEEE') AS dn, date_format(d, 'MMMM') AS mn FROM t""".stripMargin)
  }

  test("duckdb: LEN is Spark's") {
    sameRows(DuckDbish, "SELECT LEN(s) AS n FROM t", "SELECT char_length(s) AS n FROM t")
  }

  test("sqlite: date(x) is Spark's DATE cast") {
    sameRows(SqliteIsh, "SELECT date(ts) AS d1, date('2024-01-05 10:00:00') AS d2 FROM t",
      "SELECT CAST(ts AS DATE) AS d1, DATE '2024-01-05' AS d2 FROM t")
  }

  test("tsql: LEN excludes trailing spaces") {
    assert(Engine.execute(spark, "SELECT LEN('ab  ') AS n", dialect = TsqlIsh)
      .head().getInt(0) === 2)
    sameRows(TsqlIsh, "SELECT x, LEN(s) AS n FROM t",
      "SELECT x, n FROM VALUES (1, 2), (NULL, CAST(NULL AS INT)), (3, 3) AS v(x, n)")
  }

  test("arity mistakes in Spark-native names are Spark's analysis errors") {
    def error(sql: String, d: Dialect): String =
      intercept[ExecuteError](Engine.execute(spark, sql, Map("t" -> t), d)).getMessage
    assert(error("SELECT zeroifnull(x, x) FROM t", TeradataIsh).contains("WRONG_NUM_ARGS"))
    assert(error("SELECT DECODE(x, 1) FROM t", OracleIsh).contains("DATATYPE_MISMATCH"))
  }
}
