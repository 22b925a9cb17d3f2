package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the dialect layer's literal-span machinery — the
  * invariant every rewrite rests on: SQL string-literal content is NEVER
  * altered, and code outside literals is rewritten exactly as the rule
  * says. SQL texts are generated by interleaving code tokens with
  * adversarial literal contents (embedded quotes, backslashes — including
  * trailing ones — and the rewriters' own trigger tokens `==`, `::`, `//`,
  * `len(`). Raw scalacheck generators with explicit seeds (offline — no
  * scalatestplus bridge).
  */
class DialectPropertySpec extends SparkSpec {

  private val codeTokens = Gen.oneOf(
    "SELECT a", " WHERE x == 1", " ORDER BY b", "::INT", " // 7", " len(c)",
    " , d ", " = ", " <> ", " + ", " epoch(ts)", " (e) ")
  private val litChars = Gen.oneOf('a', 'z', '\\', '\'', '=', ':', '/', '(', ')', ' ', '%')
  private val litContent = Gen.listOf(litChars).map(_.mkString)

  /** (sql, codeParts, litContents): sql = code0 'lit0' code1 'lit1' … codeN */
  private val sqlGen: Gen[(String, List[String], List[String])] = for {
    n <- Gen.choose(0, 4)
    codes <- Gen.listOfN(n + 1, codeTokens)
    lits <- Gen.listOfN(n, litContent)
  } yield {
    val quoted = lits.map(c => "'" + c.replace("'", "''") + "'")
    val sql = codes.zipAll(quoted, "", "").map { case (c, l) => c + l }.mkString
    (sql, codes, lits)
  }

  private def sample(seed: Long): (String, List[String], List[String]) =
    sqlGen.apply(Gen.Parameters.default, Seed(seed)).get

  /** Contents of the single-quoted literals of ANSI-spelled `sql`. */
  private def literalContents(sql: String): List[String] =
    Dialect.lex(sql, backslashEscapes = false).all.collect {
      case Dialect.Span(s, e, Dialect.SpanKind.Literal) =>
        sql.substring(s + 1, e - 1).replace("''", "'")
    }.toList

  /** Contents of the literals of Spark-spelled `sql` (backslash escapes
    * and '' doubling both decoded).
    */
  private def sparkLiteralContents(sql: String): List[String] =
    Dialect.lex(sql).all.collect {
      case Dialect.Span(s, e, Dialect.SpanKind.Literal) =>
        "\\\\(.)|''".r.replaceAllIn(sql.substring(s + 1, e - 1),
          m => java.util.regex.Matcher.quoteReplacement(
            Option(m.group(1)).getOrElse("'")))
    }.toList

  private def ansi(c: String): String = "'" + c.replace("'", "''") + "'"
  private def sparkLit(c: String): String =
    "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"
  /** Spark's parse of `sql`, as a plan tree with expression ids elided. */
  private def parse(sql: String): String =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parsePlan(sql)
      .treeString.replaceAll("#\\d+", "")
  private def twoLits(seed: Long): (String, String) = {
    val l = Gen.listOfN(2, litContent).apply(Gen.Parameters.default, Seed(seed)).get
    (l(0), l(1))
  }
  /** The array_agg entry's parts alone, as the dialect tables combine them. */
  private def pgArrayAgg(s: String, descNullsLast: Boolean, skipNullValues: Boolean = false) =
    new Dialect.ArrayAgg(Some(Dialect.Order(descNullsLast, skipNullValues)))(s)
  private val keepNullArrayAgg = new Dialect.ArrayAgg(None, keepNulls = true)
  private val withinGroupArrayAgg = new Dialect.ArrayAgg(None, withinGroup = true)
  private val ansiDialects = Seq(Dialect.DuckDbish, Dialect.Trinoish,
    Dialect.Postgresish, Dialect.SqliteIsh)

  /** Views `t`, `u` (same rows) and `d` for the row checks: small, with
    * ties and NULLs in the sort keys.
    */
  private lazy val fixtures: Unit = {
    initLog()
    val cols = Seq("a", "b", "c", "g", "k", "v", "s", "x", "y", "w", "m", "p", "n",
      "col", "note", "format", "price", "qty", "name")
    val rows = Seq(
      Seq("1", "10", "2", "'x'", "1", "10", "'p'"), Seq("2", "20", "4", "'x'", "2", "30", "'q'"),
      Seq("3", "20", "6", "'y'", "3", "30", "NULL"), Seq("NULL", "30", "8", "'y'", "4", "NULL", "'r'"),
      Seq("5", "NULL", "10", "NULL", "5", "20", "'p'"), Seq("2", "10", "12", "'z'", "6", "20", "'q'"))
    val values = rows.map { r =>
      val k = r(4)
      (r ++ Seq(s"$k + 1", s"$k % 3", s"$k * 3", s"$k % 2", s"'p$k'", s"$k", s"$k * 5", s"'n$k'", s"'f$k'",
        s"$k * 7", s"$k % 4", s"'nm$k'")).mkString("(", ", ", ")")
    }.mkString(", ")
    spark.sql(s"CREATE OR REPLACE TEMP VIEW t AS SELECT * FROM VALUES $values AS t(${cols.mkString(", ")})")
    spark.sql("CREATE OR REPLACE TEMP VIEW u AS SELECT * FROM t")
    spark.sql("CREATE OR REPLACE TEMP VIEW d AS SELECT k, k * 100 AS dv FROM t WHERE k <= 4")
  }

  /** A rewrite's output returns the same rows, under the same column
    * names, as its hand-written Spark twin over the fixture views.
    */
  private def sameRows(out: String, twin: String): Unit = {
    fixtures
    def run(q: String) = {
      val df = spark.sql(q)
      (df.columns.map(_.toLowerCase).toSeq, df.collect().map(_.toString).sorted.toSeq)
    }
    assert(run(out) === run(twin), s"\nrewrite: $out\ntwin:    $twin")
  }

  test("lex recovers exactly the literals the text was built from") {
    (1L to 200L).foreach { seed =>
      val (sql, _, lits) = sample(seed)
      assert(literalContents(sql) === lits, s"seed=$seed sql=<$sql>")
      // …and, after the ANSI escape step, under Spark's literal rules
      assert(sparkLiteralContents(Dialect.escapeBackslashLiterals(sql)) === lits,
        s"seed=$seed sql=<$sql>")
    }
  }

  test("escapeBackslashLiterals doubles only inside literals; code text untouched") {
    (1L to 200L).foreach { seed =>
      val (sql, codes, lits) = sample(seed)
      val out = Dialect.escapeBackslashLiterals(sql)
      val expected = codes.zipAll(
        lits.map(c => "'" + c.replace("'", "''").replace("\\", "\\\\") + "'"), "", "")
        .map { case (c, l) => c + l }.mkString
      assert(out === expected, s"seed=$seed sql=<$sql>")
    }
  }

  test("== reaches Spark's parser as equality with literal bytes preserved") {
    for (seed <- 1L to 200L; d <- ansiDialects) {
      val (a, b) = twoLits(seed)
      val out = d.rewrite(null, s"SELECT x == 1 AS e, ${ansi(a)} == ${ansi(b)} AS l FROM t")
      assert(parse(out) ===
        parse(s"SELECT x = 1 AS e, ${sparkLit(a)} = ${sparkLit(b)} AS l FROM t"),
        s"seed=$seed $d out=<$out>")
    }
  }

  test("call-table renames preserve every literal byte-for-byte") {
    (1L to 200L).foreach { seed =>
      val (sql, _, lits) = sample(seed)
      val out = Dialect.Table(Nil, renames = Map("len" -> "length", "epoch" -> "ep"))(
        Dialect.escapeBackslashLiterals(sql))
      assert(sparkLiteralContents(out) === lits, s"seed=$seed sql=<$sql> out=<$out>")
    }
  }

  test(":: casts reach Spark's parser as casts with literal bytes preserved") {
    for (seed <- 1L to 200L; d <- Seq(Dialect.DuckDbish, Dialect.Postgresish)) {
      val (a, b) = twoLits(seed)
      val out = d.rewrite(null, s"SELECT ${ansi(a)}::INT AS c, x::BIGINT::STRING AS d, " +
        s"floor(y)::DECIMAL(12,2) AS f, ${ansi(b)} AS s FROM t")
      assert(parse(out) === parse(s"SELECT CAST(${sparkLit(a)} AS INT) AS c, " +
        "CAST(CAST(x AS BIGINT) AS STRING) AS d, " +
        s"CAST(floor(y) AS DECIMAL(12,2)) AS f, ${sparkLit(b)} AS s FROM t"),
        s"seed=$seed $d out=<$out>")
    }
  }

  test("rewrite time stays linear: a 3,200-literal IN list rewrites in under 1 s") {
    // machine-generated SQL: every literal carries an embedded '' and a
    // doubled backslash (valid under both ANSI and backslash-escape rules)
    val sql = (0 until 3200).map(i => s"'v$i it''s C:\\\\d'")
      .mkString("SELECT k FROM t WHERE s IN (", ", ", ") ORDER BY k")
    def assertFast(d: Dialect, stmt: String): Unit = {
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        d.rewrite(null, stmt)
        (System.nanoTime() - t0) / 1e6
      }.min
      assert(best < 1000.0, s"$d took $best ms on ${stmt.length} chars")
    }
    for (d <- Seq(Dialect.DuckDbish, Dialect.Trinoish, Dialect.Snowflakeish,
        Dialect.Postgresish))
      assertFast(d, sql)
    // 3,200 calls of one function: a call pass lexes once, never rescans
    // its output, and has no limit on the number of calls
    def sel(item: Int => String) = (0 until 3200).map(i => s"${item(i)} AS x$i")
      .mkString("SELECT ", ", ", " FROM t")
    for ((d, call) <- Seq[(Dialect, Int => String)](
        Dialect.TsqlIsh -> (i => s"CONVERT(BIGINT, c + $i)"),
        Dialect.Postgresish -> (_ => "TO_CHAR(d, 'YYYY-MM')"),
        Dialect.MySqlish -> (_ => "DATE_FORMAT(d, '%Y-%m')"),
        Dialect.DuckDbish -> (_ => "strftime(d, '%Y-%m')")))
      assertFast(d, sel(call))
    // 3,200 sites of each construct the other site passes rewrite
    def from(sep: String, item: Int => String) =
      (0 until 3200).map(item).mkString(s"SELECT k FROM t$sep", sep, "")
    for ((d, stmt) <- Seq[(Dialect, String)](
        Dialect.Postgresish -> sel(i => s"sum(x) FILTER (WHERE c > $i)"),
        Dialect.DuckDbish -> sel(i => s"array_agg(x + $i)"),
        Dialect.Snowflakeish -> sel(_ => "ARRAY_AGG(x) WITHIN GROUP (ORDER BY y)"),
        Dialect.Trinoish -> sel(i => s"ARRAY[$i]"),
        Dialect.BigQueryish -> sel(i => s"a[OFFSET($i)]"),
        Dialect.Postgresish -> from(", ", i => s"UNNEST(t.a) AS u$i(v$i)"),
        Dialect.Postgresish -> from(", ", i => s"generate_series(1, $i) AS g$i"),
        Dialect.TsqlIsh -> from(" ", i => s"CROSS APPLY STRING_SPLIT(s, ',') AS p$i"),
        Dialect.ClickHouseIsh -> from(" ", i => s"ARRAY JOIN a AS e$i"),
        Dialect.Snowflakeish -> from(", ", i => s"LATERAL FLATTEN(input => t.a) f$i"),
        Dialect.SqliteIsh -> (0 until 3200).map(i => s"s GLOB 'a$i*'")
          .mkString("SELECT k FROM t WHERE ", " OR ", ""),
        Dialect.TeradataIsh -> sel(i => s"x ** $i")))
      assertFast(d, stmt)
    // 1,280 subqueries, each with its own statement-level construct: one
    // site per SELECT scope, nothing rescanned, and no session (null)
    def arms(inner: Int => String) =
      (0 until 1280).map(i => s"SELECT * FROM (${inner(i)}) s$i").mkString(" UNION ALL ")
    for ((d, stmt) <- Seq[(Dialect, String)](
        Dialect.Snowflakeish -> arms(i =>
          s"SELECT k, g FROM t QUALIFY row_number() OVER (PARTITION BY g ORDER BY k) = ${i % 3 + 1}"),
        Dialect.TsqlIsh -> arms(i => s"SELECT TOP 2 WITH TIES k, v FROM t WHERE k > $i ORDER BY v"),
        Dialect.Postgresish -> arms(i => s"SELECT DISTINCT ON (g) g, k FROM t WHERE k > $i ORDER BY g, k"),
        Dialect.Postgresish -> arms(i =>
          s"SELECT k, v FROM t WHERE k > $i ORDER BY v FETCH FIRST 2 ROWS WITH TIES")))
      assertFast(d, stmt)
  }

  test("pinSortNulls treats a pipe operator as a clause boundary") {
    // nulls largest pins FIRST on a DESC key, NULLS LAST both ways pins LAST
    assert(Dialect.pinSortNulls("SELECT k, n FROM t |> ORDER BY n DESC |> LIMIT 2") ===
      "SELECT k, n FROM t |> ORDER BY n DESC NULLS FIRST |> LIMIT 2")
    assert(Dialect.pinSortNulls("SELECT k, n FROM t |> ORDER BY n DESC |> LIMIT 2",
      alwaysLast = true) === "SELECT k, n FROM t |> ORDER BY n DESC NULLS LAST |> LIMIT 2")
    // without a truncation after it the order decides no membership
    val sorted = "SELECT k, n FROM t |> WHERE k > 0 |> ORDER BY n DESC"
    assert(Dialect.pinSortNulls(sorted) === sorted)
  }

  test("site passes rewrite nested and chained sites inside-out") {
    // expected text is the output of the former rescanning passes
    assert(Dialect.rewriteBqSubscript("SELECT a[OFFSET(0)][SAFE_OFFSET(1)] AS v FROM t") ===
      "SELECT try_element_at(element_at(a, (CASE WHEN (0) >= 0 THEN (0) + 1 ELSE 0 END)), " +
        "(CASE WHEN (1) >= 0 THEN (1) + 1 END)) AS v FROM t")
    assert(Dialect.rewriteTeradataPower("SELECT a ** b ** c AS v FROM t") ===
      "SELECT power(power(a, b), c) AS v FROM t")
    assert(Dialect.rewriteTeradataPower("SELECT (x ** 2) ** f(y ** 3) AS v FROM t") ===
      "SELECT power((power(x, 2)), f(power(y, 3))) AS v FROM t")
    assert(Dialect.rewriteArrayLiteral("SELECT ARRAY[ARRAY[1, 2], ARRAY[3]] AS v") ===
      "SELECT array(array(1, 2), array(3)) AS v")
    assert(Dialect.rewriteAggFilter(
      "SELECT sum(x) FILTER (WHERE x > (SELECT max(y) FILTER (WHERE y < 5) FROM u)) AS v FROM t") ===
      "SELECT sum(CASE WHEN x > (SELECT max(CASE WHEN y < 5 THEN y END) FROM u) THEN x END) AS v FROM t")
    assert(Dialect.rewriteAggFilter(
      "SELECT sum(x) FILTER (WHERE c) OVER w AS v FROM t WINDOW w AS (PARTITION BY g)") ===
      "SELECT sum(CASE WHEN c THEN x END) OVER w AS v FROM t WINDOW w AS (PARTITION BY g)")
    // a bare array_agg inside a declined ordered call is still rewritten
    assert(keepNullArrayAgg(
      "SELECT array_agg(x ORDER BY (SELECT array_agg(y) FROM u)) AS v FROM t") ===
      "SELECT array_agg(x ORDER BY (SELECT transform(collect_list(named_struct('__v', y)), " +
        "s -> s.__v) FROM u)) AS v FROM t")
    assert(keepNullArrayAgg(
      "SELECT array_agg((SELECT array_agg(y) FROM u) ORDER BY k) AS v FROM t") ===
      "SELECT array_agg((SELECT transform(collect_list(named_struct('__v', y)), " +
        "s -> s.__v) FROM u) ORDER BY k) AS v FROM t")
    // FLATTEN metadata referenced before FROM, one flatten over another
    assert(Dialect.rewriteSnowFlatten("SELECT f.path AS p, g.this AS th, g.value AS v " +
      "FROM t, LATERAL FLATTEN(input => t.a) f, LATERAL FLATTEN(input => f.value) g") ===
      "SELECT concat('[', CAST(f.index AS STRING), ']') AS p, (f.value) AS th, g.value AS v " +
        "FROM t LATERAL VIEW posexplode(t.a) f AS index, value " +
        "LATERAL VIEW posexplode(f.value) g AS index, value")
    assert(Dialect.rewriteSnowFlatten("SELECT f.path AS p, f.this AS th, g.path AS gp " +
      "FROM t, LATERAL FLATTEN(input => t.a, path => 'b') f, LATERAL FLATTEN(input => t.c) g") ===
      "SELECT concat('b[', CAST(f.index AS STRING), ']') AS p, ((t.a).b) AS th, " +
        "concat('[', CAST(g.index AS STRING), ']') AS gp " +
        "FROM t LATERAL VIEW posexplode((t.a).b) f AS index, value " +
        "LATERAL VIEW posexplode(t.c) g AS index, value")
  }

  test("call-table and word renames apply at once, longest first") {
    assert(Dialect.Table(Nil, renames = Map("a" -> "b", "b" -> "c"))("a(x), b(y)") ===
      "b(x), c(y)")
    assert(Dialect.Table(Nil, words = Map("A" -> "b", "b" -> "c"))("a x, b y") === "b x, c y")
    assert(Dialect.Table(Nil, renames = Map("list" -> "array_agg", "list_value" -> "array"))(
      "list_value(1), LIST (x), 'list(y)'") ===
      "array(1), array_agg(x), 'list(y)'")
  }

  test("call passes rewrite nested calls of the same name inside-out") {
    assert(Dialect.tsqlConvert("CONVERT(BIGINT, CONVERT(VARCHAR(10), x))") ===
      "CAST(CAST(x AS STRING) AS BIGINT)")
    assert(Dialect.exasolTrunc("TRUNC(TRUNC(d, 'MM'), 'YYYY')") ===
      "trunc(trunc(d, 'MONTH'), 'YEAR')")
    assert(Dialect.mysqlDateFns("DATE_FORMAT(STR_TO_DATE(s, '%Y-%m-%d'), '%m')") ===
      "date_format(to_date(s, 'yyyy-MM-dd'), 'MM')")
    assert(Dialect.chArrayHof("arrayMap(x -> arrayMap(y -> y, x), a)") ===
      "transform(a, x -> transform(x, y -> y))")
  }

  test("translatePgFormat: template table, literal infixes, unknown letters raise") {
    assert(Dialect.translateFormat("YYYY-MM-DD", Dialect.PgFormat) === "yyyy-MM-dd")
    assert(Dialect.translateFormat("HH24:MI:SS", Dialect.PgFormat) === "HH:mm:ss")
    assert(Dialect.translateFormat("DD Mon YYYY", Dialect.PgFormat) === "dd MMM yyyy")
    assert(Dialect.translateFormat("HH:MI AM", Dialect.PgFormat) === "hh:mm a") // bare HH = HH12
    intercept[UnsupportedError](Dialect.translateFormat("YYYY-QQ", Dialect.PgFormat))
  }

  test("rewritePgRegexMatch: binary ~ and !~ only; literals and unary ~ untouched") {
    assert(Dialect.rewritePgRegexMatch("a ~ 'x' AND b !~ 'y'") ===
      "a RLIKE 'x' AND b NOT RLIKE 'y'")
    assert(Dialect.rewritePgRegexMatch("SELECT ~x") === "SELECT ~x") // unary form (no trailing space) untouched
    assert(Dialect.rewritePgRegexMatch("'tilde ~ inside'") === "'tilde ~ inside'")
    assert(Dialect.rewritePgRegexMatch("f(a)~'x'") === "f(a)~'x'") // no whitespace → untouched
  }

  test("rewritePgExtractEpoch rewrites only the EPOCH field") {
    assert(Dialect.pgExtractEpoch("EXTRACT(EPOCH FROM ts)") ===
      "unix_timestamp(ts)")
    assert(Dialect.pgExtractEpoch("extract(year FROM ts)") ===
      "extract(year FROM ts)")
    assert(Dialect.pgExtractEpoch("EXTRACT(epoch from f(a, b))") ===
      "unix_timestamp(f(a, b))")
  }

  test("rewriteSqliteStrftime: format-first arg order, non-literal raises") {
    assert(Dialect.sqliteStrftime("strftime('%Y-%m', d)") ===
      "date_format(d, 'yyyy-MM')")
    intercept[UnsupportedError](Dialect.sqliteStrftime("strftime(d, fmt)"))
  }

  test("rewriteSqliteGlob: wildcards anchored, regex metas quoted, literals safe") {
    assert(Dialect.rewriteSqliteGlob("x GLOB '*abc*'") === "x RLIKE '^.*abc.*$'")
    // regex escapes are SPARK-escaped (doubled backslash) — the pipeline
    // contract for steps running after escapeBackslashLiterals
    assert(Dialect.rewriteSqliteGlob("x GLOB '?a.b'") === "x RLIKE '^.a\\\\.b$'")
    // doubled quote inside the pattern: recovered, not truncated at the ''
    assert(Dialect.rewriteSqliteGlob("x GLOB 'a''b*'") === "x RLIKE '^a''b.*$'")
    // Spark-escaped backslash pair in the pattern → 4-backslash regex literal
    assert(Dialect.rewriteSqliteGlob("x GLOB 'a\\\\b'") === "x RLIKE '^a\\\\\\\\b$'")
    assert(Dialect.rewriteSqliteGlob("'say GLOB ''*'' here'") ===
      "'say GLOB ''*'' here'") // inside a literal → untouched
  }

  test("rewritePgToChar: literal format translated, non-literal raises") {
    assert(Dialect.pgToChar("TO_CHAR(d, 'YYYY-MM')") ===
      "date_format(d, 'yyyy-MM')")
    intercept[UnsupportedError](Dialect.pgToChar("TO_CHAR(d, fmtcol)"))
  }

  test("rewriteTsqlTop: LIMIT lands at the SELECT's scope end") {
    sameRows(Dialect.rewriteTsqlTop("SELECT TOP 5 a FROM t ORDER BY a"), "SELECT a FROM t ORDER BY a LIMIT 5 ")
    sameRows(Dialect.rewriteTsqlTop("SELECT TOP (3) a FROM t"), "SELECT a FROM t LIMIT 3 ")
    // subquery: LIMIT stays inside the closing paren
    sameRows(Dialect.rewriteTsqlTop("SELECT * FROM (SELECT TOP 2 a FROM t) s"), "SELECT * FROM (SELECT a FROM t LIMIT 2 ) s")
    // set operation (r18): each arm's TOP binds to its OWN arm, emitted
    // as a parenthesized arm (a bare `LIMIT n UNION` splice is a Spark
    // parse error)
    sameRows(Dialect.rewriteTsqlTop("SELECT TOP 1 a FROM t UNION SELECT b FROM u"), "(SELECT a FROM t LIMIT 1) UNION SELECT b FROM u")
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 1 a FROM t UNION ALL SELECT TOP 2 a FROM u"), "(SELECT a FROM t LIMIT 1) UNION ALL (SELECT a FROM u LIMIT 2) ")
    // DISTINCT stays inside the wrapped arm; MINUS is a set-op keyword
    // on the Teradata and Snowflake chains (their EXCEPT synonym) but
    // NOT T-SQL's (r19, from ADVICE + review — `minus` is a legal
    // unquoted identifier in T-SQL, where the keyword would corrupt
    // the scope scan)
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT DISTINCT TOP 3 a FROM t MINUS SELECT a FROM u",
      minusIsSetOp = true), "(SELECT DISTINCT a FROM t LIMIT 3) MINUS SELECT a FROM u")
    // …without the flag, a relation alias named minus does NOT end the
    // TOP scope (the LIMIT lands after it)…
    // (`minus` is no relation alias Spark parses: checked as text)
    assert(Dialect.rewriteTsqlTop("SELECT TOP 3 a FROM t minus") === "SELECT a FROM t minus LIMIT 3")
    // …but MINUS spelled AS A SET OP (followed by an arm) raises the
    // named error there: T-SQL rejects the statement, and scoping past
    // it would silently LIMIT the combined result (r19 second review)
    assert(intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 3 a FROM t MINUS SELECT a FROM u"))
      .getMessage.contains("MINUS as a set operation"))
    // last arm with a trailing statement ORDER BY: the sort belongs to
    // the COMBINED result (T-SQL scope rule) and stays outside the arm
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT a FROM t UNION ALL SELECT TOP 2 a FROM u ORDER BY a"), "SELECT a FROM t UNION ALL (SELECT a FROM u LIMIT 2) ORDER BY a")
    // ORDER BY inside a NON-last arm is a T-SQL syntax error → named
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 2 a FROM t ORDER BY a UNION ALL SELECT a FROM u"))
    // arm-scoped TOP PERCENT (r19): WITH TIES in an arm keeps a named
    // error (TIES requires an ORDER BY, which T-SQL rejects inside an
    // arm), as does PERCENT with an in-arm ORDER BY; a literal-zero
    // percent short-circuits to a per-arm LIMIT 0; a nonzero percent arm
    // ranks by its whole row and needs no session
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 2 WITH TIES a FROM t UNION ALL SELECT a FROM u"))
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT a FROM t UNION ALL SELECT TOP 10 PERCENT WITH TIES a FROM u"))
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 10 PERCENT a FROM t ORDER BY a UNION ALL SELECT a FROM u"))
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 0 PERCENT a FROM t UNION ALL SELECT a FROM u"), "(SELECT a FROM t LIMIT 0) UNION ALL SELECT a FROM u")
    // …and the zero-percent LAST arm keeps the trailing statement ORDER
    // BY outside the wrapped arm (it sorts the COMBINED result)
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT a FROM t UNION ALL SELECT TOP 0 PERCENT a FROM u ORDER BY a"), "SELECT a FROM t UNION ALL (SELECT a FROM u LIMIT 0) ORDER BY a")
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 40 PERCENT a FROM t UNION ALL SELECT a FROM u"),
      "SELECT a FROM (SELECT a, row_number() OVER (ORDER BY a) AS rn, " +
        "count(*) OVER () AS ct FROM t) WHERE rn <= CEILING(ct * 40 / 100.0) " +
        "UNION ALL SELECT a FROM u")
    // …over several columns, nulls first key by key, a name repeated
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 50 PERCENT g, a, g FROM t UNION ALL SELECT g, a, g FROM u"),
      "SELECT g, a, g FROM (SELECT g, a, row_number() OVER (ORDER BY g, a) AS rn, " +
        "count(*) OVER () AS ct FROM t) WHERE rn <= CEILING(ct * 50 / 100.0) " +
        "UNION ALL SELECT g, a, g FROM u")
    // a PARENTHESIZED arm keeps the in-place splice (ORDER BY legal there)
    sameRows(Dialect.rewriteTsqlTop(
      "(SELECT TOP 2 a FROM t ORDER BY a) UNION ALL SELECT a FROM u"), "(SELECT a FROM t ORDER BY a LIMIT 2 ) UNION ALL SELECT a FROM u")
    // comment safety (r18 review): a `union` inside a comment does not
    // end the scope, a commented-out SELECT TOP does not trigger, and a
    // trailing `--` comment cannot swallow the appended LIMIT (the arm
    // text is spliced from the comment-blanked span)
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 3 a FROM t /* union */ WHERE a > 0"), "SELECT a FROM t             WHERE a > 0 LIMIT 3 ")
    assert(Dialect.rewriteTsqlTop("SELECT a FROM t -- SELECT TOP 3 b FROM u\n") ===
      "SELECT a FROM t -- SELECT TOP 3 b FROM u\n")
    sameRows(Dialect.rewriteTsqlTop("SELECT TOP 3 a FROM t -- note"), "SELECT a FROM t         LIMIT 3")
    // an optimizer hint directly after TOP n survives, re-emitted
    // SELECT-adjacent where Spark honors it (r18 review: the blanked
    // splice had started dropping it); with DISTINCT the hint lands
    // BEFORE the keyword, Spark's grammar order
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 3 /*+ BROADCAST(d) */ a FROM t JOIN d ON t.k = d.k"), "SELECT /*+ BROADCAST(d) */ a FROM t JOIN d ON t.k = d.k LIMIT 3")
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT DISTINCT TOP 2 /*+ REPARTITION(4) */ a FROM t UNION ALL SELECT a FROM u"), "(SELECT /*+ REPARTITION(4) */ DISTINCT a FROM t LIMIT 2) UNION ALL SELECT a FROM u")
    // …and through the WITH TIES path the hint lands SELECT-adjacent on
    // the rank subquery's inner select
    assert(Dialect.rewriteTsqlTop(
      "SELECT TOP 3 WITH TIES /*+ BROADCAST(d) */ g FROM t ORDER BY g")
      .contains("SELECT /*+ BROADCAST(d) */ g, rank()"))
    // the hint BEFORE TOP (r18 second review: the pattern missed it and
    // the raw TOP died as a parse error) matches and is re-emitted
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT /*+ BROADCAST(d) */ TOP 3 a FROM t JOIN d ON t.k = d.k"), "SELECT /*+ BROADCAST(d) */ a FROM t JOIN d ON t.k = d.k LIMIT 3")
    // a backtick-QUOTED select alias meets a quoted (or bare) sort key
    // in the DISTINCT resolvers (r18 second review: the stripped lookup
    // missed the unstripped map key)
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT v AS `d` FROM t ORDER BY `d` FETCH FIRST 1 ROWS WITH TIES")
      .contains("rank() OVER (ORDER BY `d` NULLS LAST)"))
    assert(Dialect.rewriteChLimitBy(
      "SELECT DISTINCT g, v AS `d` FROM t ORDER BY `d` LIMIT 1 BY g")
      .contains("ORDER BY `d`) AS __lb"))
    // multi-line SELECT-adjacent hint, and the no-space `SELECT/*+h*/...`
    // spelling, both match (r18 third review: the regex hint group missed
    // them — and could backtrack across live SQL into a literal)
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT /*+ BROADCAST(d)\n*/ TOP 3 a FROM t"), "SELECT /*+ BROADCAST(d) */ a FROM t LIMIT 3")
    // the backtracking corruption case: a literal containing `*/ TOP 3`
    // after a real hint must pass through untouched
    assert(Dialect.rewriteTsqlTop("SELECT /*+ h */ a, '*/ TOP 3 x' AS s FROM t") ===
      "SELECT /*+ h */ a, '*/ TOP 3 x' AS s FROM t")
    // a bare dotted key is a qualified column reference, never an output
    // name — it must NOT silently resolve to a quoted alias `t.k`
    intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT v AS `t.k` FROM t ORDER BY t.k FETCH FIRST 1 ROWS WITH TIES"))
    // …while a whitespace-bearing quoted alias meets its quoted key
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT v AS `a  b` FROM t ORDER BY `a  b` FETCH FIRST 1 ROWS WITH TIES")
      .contains("rank() OVER (ORDER BY `a  b` NULLS LAST)"))
    // quoted identifiers compare LITERALLY: `a b` and `a  b` are two
    // different names (r18 fourth review: whitespace-normalized keys
    // conflated them — a silent wrong-sort), and an unknown quoted key
    // stays a loud error
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT v AS `a b`, u AS `a  b` FROM t " +
        "ORDER BY `a b` FETCH FIRST 1 ROWS WITH TIES")
      .contains("rank() OVER (ORDER BY `a b` NULLS LAST)"))
    intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT v AS `a b` FROM t ORDER BY `a  b` FETCH FIRST 1 ROWS WITH TIES"))
    // a quoted key takes the EXACT (non-normalized) expression match
    // (r18 fifth/sixth reviews: the normalized byExpr re-conflated
    // `a b` with `a  b`, while dropping the match entirely rejected the
    // legal exact case)
    intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT `a  b` AS x FROM t ORDER BY `a b` FETCH FIRST 1 ROWS WITH TIES"))
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT `a b` AS x FROM t ORDER BY `a b` FETCH FIRST 1 ROWS WITH TIES")
      .contains("rank() OVER (ORDER BY x NULLS LAST)"))
    // duplicate canonical output names raise the ambiguity error instead
    // of a silent last-wins wrong-sort — LAZILY since r19 (from ADVICE +
    // review): a key that hits the duplicated name BY NAME, resolves TO
    // it via the expression match, or lands ON it via an ordinal all get
    // the named error; keys resolving to non-duplicated names proceed
    // (any remaining collision in the emitted projection then fails
    // loudly at Spark's analyzer, never silently)
    intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT v AS `A`, u AS `a` FROM t ORDER BY `A` FETCH FIRST 1 ROWS WITH TIES"))
    assert(intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT v AS `A`, u AS `a` FROM t ORDER BY 1 FETCH FIRST 1 ROWS WITH TIES"))
      .getMessage.contains("duplicate output names"))
    intercept[UnsupportedError](Dialect.rewriteChLimitBy(
      "SELECT DISTINCT v AS `A`, u AS `a` FROM t LIMIT 1 BY `a`"))
    assert(intercept[UnsupportedError](Dialect.rewriteChLimitBy(
      "SELECT DISTINCT v AS `A`, u AS `a` FROM t LIMIT 1 BY v"))
      .getMessage.contains("duplicate output names"))
    intercept[UnsupportedError](Dialect.rewriteChLimitBy(
      "SELECT DISTINCT `a  b` AS x FROM t LIMIT 1 BY `a b`"))
    assert(Dialect.rewriteChLimitBy(
      "SELECT DISTINCT `a b` AS x FROM t LIMIT 1 BY `a b`")
      .contains("PARTITION BY x"))
    // quoted-key expression matching is case-sensitive (quoted names
    // compare literally): with case-differing quoted columns in the
    // list, the key picks the case-exact one, never a last-wins
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT `a b` AS x, `A B` AS y FROM t " +
        "ORDER BY `a b` FETCH FIRST 1 ROWS WITH TIES")
      .contains("rank() OVER (ORDER BY x NULLS LAST)"))
    // …while the NAME key deliberately case-folds quoted content
    // ([[nameKey]] doc, r19 alignment): Spark's resolver is
    // case-insensitive, so `ORDER BY `D`` resolves to the single
    // output name d; case-differing quoted TWINS raise above instead
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT v AS d FROM t ORDER BY `D` FETCH FIRST 1 ROWS WITH TIES")
      .contains("rank() OVER (ORDER BY d NULLS LAST)"))
    // whitespace inside a STRING LITERAL is content: a bare key whose
    // expression text differs only inside a literal stays unresolvable
    intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT upper('x  y') AS a FROM t " +
        "ORDER BY upper('x y') FETCH FIRST 1 ROWS WITH TIES"))
    // …while a formatting-only difference outside literals still matches
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT v *  2 AS d FROM t ORDER BY v * 2 FETCH FIRST 1 ROWS WITH TIES")
      .contains("rank() OVER (ORDER BY d NULLS LAST)"))
    // …including around embedded quoted identifiers (r18 seventh review:
    // a first/last-backtick predicate misrouted this to an exact-only map)
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT `a` + `b` AS s2 FROM t ORDER BY `a`  +  `b` FETCH FIRST 1 ROWS WITH TIES")
      .contains("rank() OVER (ORDER BY s2 NULLS LAST)"))
    // a key hitting an expression two items share raises the AMBIGUITY
    // error (not the misleading not-in-select-list one), while keys via
    // the distinct aliases stay legal
    locally {
      val err = intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
        "SELECT DISTINCT upper(v) AS a, upper(v) AS b FROM t " +
          "ORDER BY upper(v) FETCH FIRST 1 ROWS WITH TIES"))
      assert(err.getMessage.contains("more than one select item"))
      assert(Dialect.rewriteFetchFirstWithTies(
        "SELECT DISTINCT upper(v) AS a, upper(v) AS b FROM t " +
          "ORDER BY a FETCH FIRST 1 ROWS WITH TIES")
        .contains("rank() OVER (ORDER BY a NULLS LAST)"))
    }
    // the literal no-space hint spelling (r18 fourth review: the comment
    // claimed coverage the test didn't have)
    sameRows(Dialect.rewriteTsqlTop("SELECT/*+ h */TOP 3 a FROM t"), "SELECT /*+ h */ a FROM t LIMIT 3")
    // inside a string literal → untouched
    assert(Dialect.rewriteTsqlTop("SELECT 'SELECT TOP 5 x' AS s FROM t") ===
      "SELECT 'SELECT TOP 5 x' AS s FROM t")
    intercept[UnsupportedError](
      Dialect.rewriteTsqlTop("SELECT TOP 10 PERCENT a FROM t"))
    // TOP n WITH TIES is supported since r14 (rank-filter rewrite, gated
    // in its own test below); only the subquery-level form still raises
    sameRows(Dialect.rewriteTsqlTop("SELECT TOP 10 WITH TIES a FROM t ORDER BY a"), "SELECT a FROM ( SELECT a, rank() OVER (ORDER BY a) AS __wt " +
        "FROM t ) __wtq WHERE __wt <= 10 ORDER BY a")
  }

  test("rewriteBracketIdents: brackets to backticks, literals safe") {
    assert(Dialect.prelude("SELECT [a b], [c] FROM [t 1]", true, false, '[') ===
      "SELECT `a b`, `c` FROM `t 1`")
    assert(Dialect.prelude("SELECT '[not ident]' FROM t", true, false, '[') ===
      "SELECT '[not ident]' FROM t")
  }

  test("rewriteTsqlConvert: type mapped, style argument raises") {
    assert(Dialect.tsqlConvert("CONVERT(VARCHAR(10), d)") ===
      "CAST(d AS STRING)")
    assert(Dialect.tsqlConvert("CONVERT(DATETIME, d)") ===
      "CAST(d AS TIMESTAMP)")
    assert(Dialect.tsqlConvert("CONVERT(NUMERIC(12,2), x)") ===
      "CAST(x AS DECIMAL(12,2))")
    intercept[UnsupportedError](Dialect.tsqlConvert("CONVERT(VARCHAR, d, 112)"))
    intercept[UnsupportedError](Dialect.tsqlConvert("CONVERT(XML, d)"))
  }

  test("rewriteTsqlOffsetFetch: FETCH form to LIMIT/OFFSET, bare OFFSET kept, literals safe") {
    assert(Dialect.rewriteTsqlOffsetFetch(
      "SELECT a FROM t ORDER BY a OFFSET 5 ROWS FETCH NEXT 10 ROWS ONLY") ===
      "SELECT a FROM t ORDER BY a LIMIT 10 OFFSET 5")
    assert(Dialect.rewriteTsqlOffsetFetch(
      "SELECT a FROM t ORDER BY a OFFSET 1 ROW FETCH FIRST 1 ROW ONLY") ===
      "SELECT a FROM t ORDER BY a LIMIT 1 OFFSET 1")
    assert(Dialect.rewriteTsqlOffsetFetch("SELECT a FROM t ORDER BY a OFFSET 7 ROWS") ===
      "SELECT a FROM t ORDER BY a OFFSET 7")
    assert(Dialect.rewriteTsqlOffsetFetch("SELECT 'OFFSET 5 ROWS' AS s FROM t") ===
      "SELECT 'OFFSET 5 ROWS' AS s FROM t")
  }

  test("tsql date functions: T-SQL abbreviations, Sunday week anchor, week DATEPART raises") {
    assert(Dialect.tsqlDateAdd("DATEADD(mm, 2, d)") === "((d) + make_interval(0, (2)))")
    assert(Dialect.tsqlDateAdd("DATEADD(dd, -1, d)") === "((d) + make_interval(0, 0, 0, (-1)))")
    // weeks anchor on a SUNDAY (0001-01-07), not Snowflake's Monday
    assert(Dialect.tsqlDateDiff("DATEDIFF(wk, a, b)").contains("0001-01-07"))
    assert(Dialect.tsqlDateDiff("DATEDIFF(yy, a, b)") ===
      "(year(b) - year(a))")
    assert(Dialect.tsqlDatePart("DATEPART(yyyy, d)") === "year(d)")
    intercept[UnsupportedError](Dialect.tsqlDatePart("DATEPART(week, d)"))
    intercept[UnsupportedError](Dialect.tsqlDateAdd("DATEADD(ns, 1, d)"))
  }

  test("redshift: part abbreviations, Sunday week anchor, bare-type casts") {
    assert(Dialect.rsDateAdd("DATEADD(mons, 2, d)") === "((d) + make_interval(0, (2)))")
    assert(Dialect.rsDateAdd("DATEADD('yrs', 1, d)") === "((d) + make_interval((1)))")
    // 'm' is MINUTE in Redshift's part table, not month
    assert(Dialect.rsDateAdd("DATEADD(m, 5, t)") === "timestampadd(MINUTE, (5), t)")
    assert(Dialect.rsDateDiff("DATEDIFF(w, a, b)").contains("0001-01-07"))
    assert(Dialect.rsDateDiff("DATEDIFF(yrs, a, b)") === "(year(b) - year(a))")
    intercept[UnsupportedError](Dialect.rsDateAdd("DATEADD(ns, 1, d)"))
    assert(Dialect.rsBareTypes("CAST(x AS VARCHAR), CAST(y AS VARCHAR(10))") ===
      "CAST(x AS STRING), CAST(y AS VARCHAR(10))")
    assert(Dialect.rsBareTypes("SELECT 'a TEXT literal', CAST(z AS TEXT)") ===
      "SELECT 'a TEXT literal', CAST(z AS STRING)")
    // ONLY the cast-type position is a type: a column or alias NAMED
    // text/varchar is code and must survive untouched
    assert(Dialect.rsBareTypes("SELECT body AS text FROM msgs ORDER BY text") ===
      "SELECT body AS text FROM msgs ORDER BY text")
    assert(Dialect.rsBareTypes("SELECT CAST(CAST(y AS TEXT) AS VARCHAR)") ===
      "SELECT CAST(CAST(y AS STRING) AS STRING)")
  }

  test("clickhouse: -If combinators, multiIf, to* family, uniq") {
    assert(Dialect.chAggIf("countIf(x > 0)") === "count_if(x > 0)")
    assert(Dialect.chAggIf("sumIf(v, v > 2)") ===
      "coalesce(sum(CASE WHEN v > 2 THEN v END), 0)")
    assert(Dialect.chAggIf("maxIf(v, f(a, b) = 1)") ===
      "max(CASE WHEN f(a, b) = 1 THEN v END)")
    intercept[UnsupportedError](Dialect.chAggIf("sumIf(v)"))
    assert(Dialect.chMultiIf("multiIf(a = 1, 'x', b = 2, 'y', 'z')") ===
      "(CASE WHEN a = 1 THEN 'x' WHEN b = 2 THEN 'y' ELSE 'z' END)")
    intercept[UnsupportedError](Dialect.chMultiIf("multiIf(a, b)"))
    assert(Dialect.chTo("toYYYYMM(d)") ===
      "CAST(date_format(d, 'yyyyMM') AS BIGINT)")
    // longest-match: toYYYYMMDD is not half-eaten by toYYYYMM
    assert(Dialect.chTo("toYYYYMMDD(d)") ===
      "CAST(date_format(d, 'yyyyMMdd') AS BIGINT)")
    assert(Dialect.chTo("toStartOfMonth(d)") ===
      "CAST(date_trunc('MONTH', d) AS DATE)")
    assert(Dialect.chUniq("uniqExact(a, b)") === "count(DISTINCT a, b)")
    assert(Dialect.chUniq("uniq(a)") === "approx_count_distinct(a)")
  }

  test("clickhouse: lambda-first HOFs, splitByChar quoting, position swap, literals safe") {
    assert(Dialect.chArrayHof("arrayMap(x -> x + 1, arr)") ===
      "transform(arr, x -> x + 1)")
    assert(Dialect.chArrayHof("arrayCount(x -> x > 0, arr)") ===
      "size(filter(arr, x -> x > 0))")
    // nested: inner call rewritten on the rescan pass
    assert(Dialect.chArrayHof("arrayFilter(x -> x, arrayMap(y -> y, a))") ===
      "filter(transform(a, y -> y), x -> x)")
    assert(Dialect.chSplit("splitByChar('-', s)") ===
      "split(s, '\\\\Q-\\\\E')")
    assert(Dialect.chPosition("position(hay, 'ndl')") ===
      "locate('ndl', hay)")
    // ANSI position(x IN y) single-arg form passes through
    assert(Dialect.chPosition("position('a' IN s)") ===
      "position('a' IN s)")
    assert(Dialect.chEmpty("notEmpty(s)") === "(length(s) > 0)")
    // trigger tokens inside literals are never rewritten
    val lit = "SELECT 'countIf(x), arrayMap(, position(' AS c, countIf(b) AS n"
    assert(Dialect.chAggIf(lit) ===
      "SELECT 'countIf(x), arrayMap(, position(' AS c, count_if(b) AS n")
  }

  test("teradata: SEL, keyword comparators, infix MOD, zeroifnull family") {
    assert(Dialect.teradataSel("SEL x FROM t") === "SELECT x FROM t")
    // no boundary inside SELECT; literals untouched
    assert(Dialect.teradataSel("SELECT 'SEL y' AS s") === "SELECT 'SEL y' AS s")
    assert(Dialect.teradataComparators("WHERE a LT 5 AND b GE 2 AND c NE 'x'") ===
      "WHERE a < 5 AND b >= 2 AND c <> 'x'")
    assert(Dialect.teradataComparators("SELECT 'a LT b' AS s") ===
      "SELECT 'a LT b' AS s")
    assert(Dialect.rewriteTeradataInfixMod("a MOD 7 = b mod 2") === "a % 7 = b % 2")
    // function-call MOD(a, b) is Spark-native — decided by what PRECEDES
    assert(Dialect.rewriteTeradataInfixMod("MOD(a, 7) + x MOD 2") === "MOD(a, 7) + x % 2")
    assert(Dialect.rewriteTeradataInfixMod("a + MOD(a, b)") === "a + MOD(a, b)")
    // infix with a parenthesized right operand must still rewrite
    assert(Dialect.rewriteTeradataInfixMod("a MOD (b + 1)") === "a % (b + 1)")
    assert(Dialect.rewriteTeradataInfixMod("f() MOD (g())") === "f() % (g())")
    assert(Dialect.rewriteTeradataInfixMod("SELECT 'x MOD y' AS s") ===
      "SELECT 'x MOD y' AS s")
    // ** exponent: simple operands, parenthesized groups, calls, left assoc
    assert(Dialect.rewriteTeradataPower("a ** 2") === "power(a, 2)")
    assert(Dialect.rewriteTeradataPower("(a + b) ** -2") === "power((a + b), -2)")
    assert(Dialect.rewriteTeradataPower("f(x) ** g(y)") === "power(f(x), g(y))")
    assert(Dialect.rewriteTeradataPower("a ** b ** c") === "power(power(a, b), c)")
    assert(Dialect.rewriteTeradataPower("t.v ** 2 + 1") === "power(t.v, 2) + 1")
    assert(Dialect.rewriteTeradataPower("SELECT 'a ** b' AS s") ===
      "SELECT 'a ** b' AS s")
    // parens inside string literals never mis-group operands
    assert(Dialect.rewriteTeradataPower("a ** instr(x, '(') + 1") ===
      "power(a, instr(x, '(')) + 1")
    assert(Dialect.rewriteTeradataPower("instr(x, ')') ** 2") ===
      "power(instr(x, ')'), 2)")
    // any whitespace separates operands; spaced signs and scientific
    // notation on the right are bounded correctly
    assert(Dialect.rewriteTeradataPower("a **\n  2") === "power(a, 2)")
    assert(Dialect.rewriteTeradataPower("a ** - b") === "power(a, - b)")
    assert(Dialect.rewriteTeradataPower("a ** 2.5e-1") === "power(a, 2.5e-1)")
    // a left operand that is the tail of a scientific number must raise,
    // not silently bind the exponent digits
    intercept[UnsupportedError](Dialect.rewriteTeradataPower("1e-3 ** 2"))
    // quoted identifiers are opaque operands
    assert(Dialect.rewriteTeradataPower("\"my col\" ** 2") ===
      "power(\"my col\", 2)")
    val spark: org.apache.spark.sql.SparkSession = null
    // full pipeline: a quoted identifier named like a keyword stays a
    // column (maps to backticks), never becomes an operator
    assert(Dialect.TeradataIsh.rewrite(spark, "SEL \"lt\" FROM t WHERE a GT 1") ===
      "SELECT `lt` FROM t WHERE a > 1")
    // ZEROIFNULL/NULLIFZERO are Spark's own and pass through
    assert(Dialect.TeradataIsh.rewrite(spark, "SEL ZEROIFNULL(NULLIFZERO(a + b))") ===
      "SELECT ZEROIFNULL(NULLIFZERO(a + b))")
    // full pipeline through the dialect object: TOP after SEL expansion
    assert(Dialect.TeradataIsh.rewrite(spark,
      "SEL TOP 3 x FROM t WHERE x GT 1 ORDER BY x").trim ===
      "SELECT x FROM t WHERE x > 1 ORDER BY x LIMIT 3")
    assert(Dialect.forName("teradata") === Dialect.TeradataIsh)
    assert(Dialect.forName("dune") === Dialect.Trinoish)
    assert(Dialect.forName("drill") === Dialect.Spark)
    // the lexer: quote-doubling escapes in all three styles,
    // and code between spans stays rewritable
    val mixed = """SELECT "a""lt" FROM t WHERE x LT 'it''s ''lt''' AND y lt 2"""
    assert(Dialect.teradataComparators(mixed) ===
      """SELECT "a""lt" FROM t WHERE x < 'it''s ''lt''' AND y < 2""")
  }

  test("snowflake/bigquery extensions: names, SAFE_ family, INTERVAL add, literal split") {
    // BigQuery DATE_ADD/DATE_SUB with INTERVAL — single-digit quantities
    // and expressions both bind; Spark's own 2-arg date_add passes through
    assert(Dialect.bqDateAddSub("DATE_ADD(d, INTERVAL 2 MONTH)") ===
      "((d) + make_interval(0, (2)))")
    assert(Dialect.bqDateAddSub("DATE_SUB(d, INTERVAL 1 WEEK)") ===
      "((d) + make_interval(0, 0, (-(1))))")
    assert(Dialect.bqDateAddSub("TIMESTAMP_ADD(t, INTERVAL n + 1 HOUR)") ===
      "timestampadd(HOUR, (n + 1), t)")
    assert(Dialect.bqDateAddSub("date_add(d, 5)") === "date_add(d, 5)")
    intercept[UnsupportedError](
      Dialect.bqDateAddSub("DATE_ADD(d, INTERVAL 1 FORTNIGHT)"))
    // BigQuery SPLIT: literal delimiter \Q-embedded; default comma;
    // non-literal raises
    assert(Dialect.bqSplit("SPLIT(s, '-')") === "split(s, '\\\\Q-\\\\E')")
    assert(Dialect.bqSplit("SPLIT(s)") === "split(s, '\\\\Q,\\\\E')")
    intercept[UnsupportedError](Dialect.bqSplit("SPLIT(s, d)"))
    val spark: org.apache.spark.sql.SparkSession = null
    // GENERATE_ARRAY guards the empty case: sequence(1, 0) in Spark is
    // the DESCENDING [1, 0], BigQuery's contract is []
    assert(Dialect.bqGenerateArray("GENERATE_ARRAY(1, n)") ===
      "(CASE WHEN (1) <= (n) THEN sequence((1), (n)) " +
        "ELSE slice(sequence((1), (1)), 1, 0) END)")
    assert(Dialect.bqGenerateArray("GENERATE_ARRAY(a, b, -2)")
      .contains("(-2) < 0 AND (a) >= (b)"))
    // full pipeline: SAFE_ renames + guarded GENERATE_ARRAY + printf FORMAT
    assert(Dialect.BigQueryish.rewrite(spark,
      "SELECT SAFE_DIVIDE(a, b), ARRAY_LENGTH(GENERATE_ARRAY(1, 3)), FORMAT('%d', x)") ===
      "SELECT try_divide(a, b), size((CASE WHEN (1) <= (3) THEN sequence((1), (3)) " +
        "ELSE slice(sequence((1), (1)), 1, 0) END)), format_string('%d', x)")
    // FORMAT_DATE is rewritten by its own step first, not eaten by the
    // printf FORMAT rename
    assert(Dialect.BigQueryish.rewrite(spark, "SELECT FORMAT_DATE('%Y', d)") ===
      "SELECT date_format(d, 'yyyy')")
    assert(Dialect.Snowflakeish.rewrite(spark,
      "SELECT TO_JSON(OBJECT_CONSTRUCT('k', a)), ZEROIFNULL(NULLIFZERO(b)), LEN(s), CHARINDEX('x', s)") ===
      "SELECT TO_JSON(named_struct('k', a)), ZEROIFNULL(NULLIFZERO(b)), LEN(s), locate('x', s)")
  }

  test("round-10 rewriters never touch literal content (generated spans)") {
    // every new rewriter over adversarial generated SQL: literal bytes
    // must survive unchanged whether or not the code segments trigger a
    // rewrite; rewriters that legitimately reject malformed code raise
    // UnsupportedError and are skipped for that sample
    val rewriters: Seq[(String, String => String)] = Seq(
      "tableauIfBlock" -> Dialect.tableauIfBlock,
      "tableauIif" -> Dialect.tableauIif,
      "tableauCountd" -> Dialect.tableauCountd,
      "tableauSplit" -> Dialect.tableauSplit,
      "bqDateAddSub" -> Dialect.bqDateAddSub,
      "bqSplit" -> Dialect.bqSplit,
      "trinoDateFns" -> Dialect.trinoDateFns,
      "pgStringAgg" -> Dialect.pgStringAgg,
      "mysqlDayNames" -> Dialect.mysqlDayNames,
      "fetchFirst" -> Dialect.rewriteFetchFirst,
      "chFormatDateTime" -> Dialect.chFormatDateTime,
      "sqliteDateFn" -> Dialect.sqliteDateFn,
      // round-11 rewriters (star REPLACE needs a live session — covered
      // by its SemanticsSpec/gate instead)
      "unnest" -> ((s: String) => Dialect.rewriteUnnest(s)),
      "snowFlatten" -> Dialect.rewriteSnowFlatten,
      "bqSubscript" -> Dialect.rewriteBqSubscript,
      "trinoTry" -> Dialect.trinoTry,
      "generateSeriesTable" ->
        ((s: String) => Dialect.rewriteGenerateSeriesTable(s)),
      "exasolAddUnits" -> Dialect.exasolAddUnits,
      "chArrayJoin" -> Dialect.rewriteChArrayJoin,
      "tsqlApply" -> Dialect.tsqlApply(identity),
      "snowTryTo" -> Dialect.snowTryTo,
      "arrayLiteral" -> ((s: String) => Dialect.rewriteArrayLiteral(s)),
      "aggFilter" -> ((s: String) => Dialect.rewriteAggFilter(s)),
      // round-13 rewriters
      "chLimitBy" -> ((s: String) => Dialect.rewriteChLimitBy(s)),
      "tsqlPivot" -> Dialect.rewriteTsqlPivot,
      "pgArrayAgg" -> ((s: String) => pgArrayAgg(s, descNullsLast = false)),
      "pgArrayAggDuck" -> ((s: String) => pgArrayAgg(s, descNullsLast = true)),
      // round-14 rewriters
      "withinGroupArrayAgg" -> withinGroupArrayAgg,
      "snowArrayAgg" -> ((s: String) =>
        pgArrayAgg(s, descNullsLast = false, skipNullValues = true)),
      "fetchFirstWithTies" -> ((s: String) => Dialect.rewriteFetchFirstWithTies(s)),
      "bqArrayAgg" -> Dialect.bqArrayAgg)
    (1L to 100L).foreach { seed =>
      val (sql, _, lits) = sample(seed)
      rewriters.foreach { case (name, f) =>
        val out = try f(sql) catch { case _: UnsupportedError => sql }
        assert(literalContents(out) === lits,
          s"$name seed=$seed sql=<$sql> out=<$out>")
      }
    }
  }

  test("clickhouse formatDateTime, sqlite date modifiers (normalizing months)") {
    // MODERN ClickHouse (>= 23.4 default) follows MySQL's table: %M is
    // the month NAME, %i is minutes
    assert(Dialect.chFormatDateTime("formatDateTime(d, '%Y/%m %H:%i')") ===
      "date_format(d, 'yyyy/MM HH:mm')")
    assert(Dialect.chFormatDateTime("formatDateTime(d, '%M')") ===
      "date_format(d, 'MMMM')")
    assert(Dialect.chFormatDateTime("fromUnixTimestamp(x)") ===
      "timestamp_seconds(x)")
    intercept[UnsupportedError](Dialect.chFormatDateTime("formatDateTime(d, f)"))
    // bare date() is Spark's DATE cast and passes through; day
    // modifiers are plain adds
    assert(Dialect.sqliteDateFn("date(d)") === "date(d)")
    assert(Dialect.sqliteDateFn("date(d, '-7 days')") ===
      "date_add(CAST(d AS DATE), (-7))")
    // month arithmetic NORMALIZES like SQLite (Jan 31 +1 month = Mar 2),
    // spelled month-start + add_months + day-roll — never bare add_months
    assert(Dialect.sqliteDateFn("date(d, '+2 months')") ===
      "date_add(add_months(trunc(CAST(d AS DATE), 'MM'), (+2)), day(CAST(d AS DATE)) - 1)")
    assert(Dialect.sqliteDateFn("date(d, '+1 years')").contains("12 * (+1)"))
    // modifiers fold left in order
    assert(Dialect.sqliteDateFn("date(d, '-7 days', 'start of month')") ===
      "trunc(date_add(CAST(d AS DATE), (-7)), 'MM')")
    intercept[UnsupportedError](Dialect.sqliteDateFn("date(d, 'weekday 0')"))
    intercept[UnsupportedError](Dialect.sqliteDateFn("date(d, x)"))
  }

  test("mysql day names, oracle/postgres FETCH FIRST paging") {
    // MySQL full names (Snowflake's same-named functions abbreviate)
    assert(Dialect.mysqlDayNames("DAYNAME(d)") === "date_format(d, 'EEEE')")
    assert(Dialect.mysqlDayNames("MONTHNAME(d)") === "date_format(d, 'MMMM')")
    // WEEKDAY (0=Monday) and DAYOFWEEK (1=Sunday) are Spark's own
    assert(Dialect.mysqlDayNames("WEEKDAY(d)") === "WEEKDAY(d)")
    assert(Dialect.mysqlDayNames("DAYOFWEEK(d)") === "DAYOFWEEK(d)")
    // standalone FETCH FIRST/NEXT → LIMIT; literals safe
    assert(Dialect.rewriteFetchFirst("SELECT a FROM t ORDER BY a FETCH FIRST 10 ROWS ONLY") ===
      "SELECT a FROM t ORDER BY a LIMIT 10")
    assert(Dialect.rewriteFetchFirst("SELECT a FROM t FETCH NEXT 1 ROW ONLY") ===
      "SELECT a FROM t LIMIT 1")
    assert(Dialect.rewriteFetchFirst("SELECT 'FETCH FIRST 5 ROWS ONLY' AS s") ===
      "SELECT 'FETCH FIRST 5 ROWS ONLY' AS s")
    // OFFSET-combined form goes through the T-SQL rewriter first, so the
    // standalone pass sees nothing left to rewrite
    val paged = Dialect.rewriteFetchFirst(Dialect.rewriteTsqlOffsetFetch(
      "SELECT a FROM t ORDER BY a OFFSET 10 ROWS FETCH NEXT 50 ROWS ONLY"))
    assert(paged === "SELECT a FROM t ORDER BY a LIMIT 50 OFFSET 10")
  }

  test("trino datetime + postgres extract/string_agg quirks") {
    // Trino date_format is MySQL-%-coded — translated, not passed through
    assert(Dialect.trinoDateFns("date_format(d, '%Y-%m')") ===
      "date_format(d, 'yyyy-MM')")
    assert(Dialect.trinoDateFns("date_parse(s, '%Y-%m-%d %H:%i:%s')") ===
      "to_timestamp(s, 'yyyy-MM-dd HH:mm:ss')")
    intercept[UnsupportedError](Dialect.trinoDateFns("date_parse(s, f)"))
    // %-free formats are LITERAL TEXT in Trino — quoted for Spark's
    // pattern language ('yyyy' must print yyyy, not the year)
    assert(Dialect.trinoDateFns("date_format(d, 'yyyy')") ===
      "date_format(d, '''yyyy''')")
    intercept[UnsupportedError](Dialect.trinoDateFns("date_format(d, f)"))
    // ISO day_of_week re-based from Spark's Sunday=1
    assert(Dialect.trinoDateFns("day_of_week(d)") ===
      "(((dayofweek(d) + 5) % 7) + 1)")
    assert(Dialect.trinoDateFns("dow(d)") === "(((dayofweek(d) + 5) % 7) + 1)")
    assert(Dialect.trinoDateFns("week(d)") === "weekofyear(d)")
    assert(Dialect.trinoDateFns("year_of_week(d)") ===
      "EXTRACT(YEAROFWEEK FROM d)")
    // Postgres EXTRACT: DOW is Sunday=0 (one less than Spark), ISODOW Monday=1
    assert(Dialect.pgExtractEpoch("EXTRACT(DOW FROM d)") ===
      "(dayofweek(d) - 1)")
    assert(Dialect.pgExtractEpoch("EXTRACT(ISODOW FROM d)") ===
      "extract(DAYOFWEEK_ISO FROM d)")
    assert(Dialect.pgExtractEpoch("EXTRACT(YEAR FROM d)") ===
      "EXTRACT(YEAR FROM d)")
    // string_agg with inline ORDER BY → listagg WITHIN GROUP; the plain
    // 2-arg form is Spark-native and untouched; a separator literal
    // containing the words is not a clause
    assert(Dialect.pgStringAgg("string_agg(x, ',' ORDER BY y DESC)") ===
      "listagg(x, ',') WITHIN GROUP (ORDER BY y DESC)")
    // multi-key ORDER BY splits at top-level commas and is rejoined
    assert(Dialect.pgStringAgg("string_agg(x, ',' ORDER BY last, first DESC)") ===
      "listagg(x, ',') WITHIN GROUP (ORDER BY last, first DESC)")
    assert(Dialect.pgStringAgg("string_agg(x, ',')") === "string_agg(x, ',')")
    assert(Dialect.pgStringAgg("string_agg(x, ' ORDER BY ')") ===
      "string_agg(x, ' ORDER BY ')")
  }

  test("tableau: IF block, null-aware IIF, COUNTD, quoted date parts, SPLIT") {
    assert(Dialect.tableauIfBlock(
      "SELECT IF a = 1 THEN 'x' ELSEIF a = 2 THEN 'y' ELSE 'z' END") ===
      "SELECT CASE WHEN a = 1 THEN 'x' WHEN a = 2 THEN 'y' ELSE 'z' END")
    // backtick-quoted identifier named `if` stays a column; literal safe
    assert(Dialect.tableauIfBlock("SELECT `if`, 'if then' FROM t") ===
      "SELECT `if`, 'if then' FROM t")
    // 3-arg IIF: NULL test matches neither TRUE nor FALSE and falls to
    // the CASE default (NULL), never the else branch — unlike Spark's
    // if(); the simple-CASE form evaluates the test exactly ONCE
    assert(Dialect.tableauIif("IIF(c > 0, 'p', 'n')") ===
      "(CASE (c > 0) WHEN TRUE THEN 'p' WHEN FALSE THEN 'n' END)")
    assert(Dialect.tableauIif("IIF(c > 0, 'p', 'n', 'u')") ===
      "(CASE (c > 0) WHEN TRUE THEN 'p' WHEN FALSE THEN 'n' ELSE 'u' END)")
    intercept[UnsupportedError](Dialect.tableauIif("IIF(c, t)"))
    assert(Dialect.tableauCountd("COUNTD(x)") === "count(DISTINCT x)")
    assert(Dialect.tableauDateAdd("DATEADD('month', 2, d)") ===
      "((d) + make_interval(0, (2)))")
    // weeks anchor on a SUNDAY (Tableau's default week start)
    assert(Dialect.tableauDateDiff("DATEDIFF('week', a, b)")
      .contains("0001-01-07"))
    assert(Dialect.tableauDateDiff("DATEDIFF('month', a, b)") ===
      "((year(b) * 12 + month(b)) - (year(a) * 12 + month(a)))")
    assert(Dialect.tableauDatePart("DATEPART('weekday', d)") ===
      "dayofweek(d)")
    assert(Dialect.tableauDatePart("DATEPART('dayofyear', d)") ===
      "dayofyear(d)")
    assert(Dialect.tableauDateTrunc("DATETRUNC('quarter', d)") ===
      "date_trunc('QUARTER', d)")
    assert(Dialect.tableauDateName("DATENAME('month', d)") ===
      "date_format(d, 'MMMM')")
    assert(Dialect.tableauDateName("DATENAME('year', d)") ===
      "CAST(year(d) AS STRING)")
    // week numbering is week-start-configurable in Tableau — fail fast
    intercept[UnsupportedError](Dialect.tableauDatePart("DATEPART('week', d)"))
    intercept[UnsupportedError](Dialect.tableauDateTrunc("DATETRUNC('week', d)"))
    // the part must be a QUOTED literal (Tableau's own syntax)
    intercept[UnsupportedError](Dialect.tableauDateAdd("DATEADD(month, 2, d)"))
    // 3-arg SPLIT: \Q-quoted literal delimiter, NULL-safe token pick
    assert(Dialect.tableauSplit("SPLIT(s, '-', 2)") ===
      "try_element_at(split(s, concat('\\\\Q', '-', '\\\\E')), 2)")
    // 2-arg split is Spark-native and passes through
    assert(Dialect.tableauSplit("split(s, ',')") === "split(s, ',')")
    intercept[UnsupportedError](Dialect.tableauSplit("SPLIT(s, d, 2)"))
    val spark: org.apache.spark.sql.SparkSession = null
    // full pipeline: bracket field refs, IF block, IIF, COUNTD together
    assert(Dialect.TableauIsh.rewrite(spark,
      "SELECT COUNTD([Cust Id]) AS n, IF [x] > 1 THEN 'hi' ELSE 'lo' END AS t FROM o") ===
      "SELECT count(DISTINCT `Cust Id`) AS n, CASE WHEN `x` > 1 THEN 'hi' ELSE 'lo' END AS t FROM o")
    assert(Dialect.forName("tableau") === Dialect.TableauIsh)
  }

  test("exasol: ADD_unit family, unit_BETWEEN, TRUNC formats, zeroifnull") {
    // the ADD_unit family goes through the shared, type-preserving add
    // spelling (DATE in → DATE out, TIMESTAMP keeps its time of day)
    assert(Dialect.exasolAddUnits("ADD_MONTHS(d, 2)") ===
      "((d) + make_interval(0, (CAST(2 AS INT))))")
    assert(Dialect.exasolAddUnits("ADD_YEARS(d, 1)") ===
      "((d) + make_interval((CAST(1 AS INT))))")
    assert(Dialect.exasolAddUnits("ADD_DAYS(d, 30)") ===
      "((d) + make_interval(0, 0, 0, (CAST(30 AS INT))))")
    assert(Dialect.exasolAddUnits("ADD_WEEKS(d, n)") ===
      "((d) + make_interval(0, 0, (CAST(n AS INT))))")
    assert(Dialect.exasolAddUnits("ADD_HOURS(t, 6)") ===
      "timestampadd(HOUR, (CAST(6 AS INT)), CAST(t AS TIMESTAMP))")
    // nested calls rewrite inside-out in one pass
    assert(Dialect.exasolAddUnits("ADD_DAYS(ADD_MONTHS(d, 1), 2)") ===
      "((((d) + make_interval(0, (CAST(1 AS INT))))) + make_interval(0, 0, 0, (CAST(2 AS INT))))")
    intercept[UnsupportedError](Dialect.exasolAddUnits("ADD_DAYS(d)"))
    assert(Dialect.exasolBetweenUnits("DAYS_BETWEEN(a, b)") ===
      "datediff(CAST(a AS DATE), CAST(b AS DATE))")
    assert(Dialect.exasolBetweenUnits("SECONDS_BETWEEN(a, b)") ===
      "(CAST(CAST(a AS TIMESTAMP) AS DOUBLE) - CAST(CAST(b AS TIMESTAMP) AS DOUBLE))")
    assert(Dialect.exasolBetweenUnits("HOURS_BETWEEN(a, b)").endsWith(
      " / CAST(3600 AS DOUBLE))"))
    // YEARS/MONTHS_BETWEEN deliberately NOT shimmed (fractional-month drift)
    assert(Dialect.exasolBetweenUnits("MONTHS_BETWEEN(a, b)") ===
      "MONTHS_BETWEEN(a, b)")
    assert(Dialect.exasolTrunc("TRUNC(d, 'MM')") === "trunc(d, 'MONTH')")
    assert(Dialect.exasolTrunc("TRUNC(d, 'Q')") === "trunc(d, 'QUARTER')")
    assert(Dialect.exasolTrunc("TRUNC(d, 'DD')") === "CAST(d AS DATE)")
    assert(Dialect.exasolTrunc("TRUNC(t, 'HH')") ===
      "date_trunc('HOUR', CAST(t AS TIMESTAMP))")
    // 1-arg TRUNC is numeric truncation — Spark-native pass-through
    assert(Dialect.exasolTrunc("TRUNC(x)") === "TRUNC(x)")
    // 'DAY' would be an Oracle-family week start — fail fast
    intercept[UnsupportedError](Dialect.exasolTrunc("TRUNC(d, 'DAY')"))
    val spark: org.apache.spark.sql.SparkSession = null
    // full pipeline: quoted idents, Spark's own ZEROIFNULL, ADD_DAYS
    val full = Dialect.ExasolIsh.rewrite(spark,
      "SELECT ZEROIFNULL(\"v\") AS z, ADD_DAYS(d, 1) AS d1 FROM t")
    assert(full ===
      "SELECT ZEROIFNULL(`v`) AS z, ((d) + make_interval(0, 0, 0, (CAST(1 AS INT)))) AS d1 FROM t")
    assert(Dialect.forName("exasol") === Dialect.ExasolIsh)
    assert(Dialect.ExasolIsh.nameFold === Dialect.NameFold.Upper)
  }

  test("unnest/flatten/try: table-valued rewrites and the TRY family") {
    // BigQuery UNNEST with 0-based WITH OFFSET → posexplode
    assert(Dialect.rewriteUnnest(
      "SELECT x FROM t, UNNEST(arr) AS x WITH OFFSET AS o WHERE k = 1") ===
      "SELECT x FROM t LATERAL VIEW posexplode(arr) __unnest_x AS o, x WHERE k = 1")
    // bare alias, no offset → explode; CROSS JOIN joiner
    assert(Dialect.rewriteUnnest(
      "SELECT x FROM t CROSS JOIN UNNEST(arr) x") ===
      "SELECT x FROM t LATERAL VIEW explode(arr) __unnest_x AS x")
    // bare WITH OFFSET (BigQuery-legal): the implicit column is `offset`,
    // and a following clause keyword is NOT captured as the alias
    assert(Dialect.rewriteUnnest(
      "SELECT x FROM t, UNNEST(arr) AS x WITH OFFSET WHERE k = 1") ===
      "SELECT x FROM t LATERAL VIEW posexplode(arr) __unnest_x AS offset, x WHERE k = 1")
    // LEFT JOIN … ON TRUE keeps empty-array rows → OUTER
    assert(Dialect.rewriteUnnest(
      "SELECT x FROM t LEFT JOIN UNNEST(arr) AS x ON TRUE") ===
      "SELECT x FROM t LATERAL VIEW OUTER explode(arr) __unnest_x AS x")
    // Trino single-column table alias t(x)
    assert(Dialect.rewriteUnnest(
      "SELECT tok FROM t CROSS JOIN UNNEST(split(s, '-')) AS u(tok)") ===
      "SELECT tok FROM t LATERAL VIEW explode(split(s, '-')) u AS tok")
    // Trino WITH ORDINALITY (r13): 1-based BIGINT ordinal built inside
    // the array via inline(transform) — the +1 lives in per-row codegen
    assert(Dialect.rewriteUnnest(
      "SELECT x FROM t CROSS JOIN UNNEST(arr) WITH ORDINALITY AS u(x, ord)") ===
      "SELECT x FROM t LATERAL VIEW inline(transform(arr, (__unv, __uni) -> " +
        "struct(__unv AS x, CAST(__uni + 1 AS BIGINT) AS ord))) u AS x, ord")
    // ordinality REQUIRES the two-column table alias; one column (or the
    // BigQuery bare-alias mix) fails fast
    intercept[UnsupportedError](Dialect.rewriteUnnest(
      "SELECT 1 FROM t CROSS JOIN UNNEST(a) WITH ORDINALITY AS u(x)"))
    intercept[UnsupportedError](Dialect.rewriteUnnest(
      "SELECT 1 FROM t CROSS JOIN UNNEST(a) WITH ORDINALITY x"))
    // multi-array zip (r18 — Trino positional zip; NULL-pads the
    // shorter array, empty/NULL inputs yield zero rows)
    assert(Dialect.rewriteUnnest(
      "SELECT x, y FROM t CROSS JOIN UNNEST(a, b) AS u(x, y)") ===
      "SELECT x, y FROM t LATERAL VIEW inline(transform(array_repeat(0, " +
        "greatest(size(a), size(b))), (__unv, __uni) -> " +
        "struct(try_element_at(a, __uni + 1) AS x, try_element_at(b, __uni + 1) AS y))) " +
        "u AS x, y")
    // … WITH ORDINALITY appends the 1-based BIGINT index as the last column
    assert(Dialect.rewriteUnnest(
      "SELECT x FROM t LEFT JOIN UNNEST(a, b) WITH ORDINALITY AS u(x, y, i) ON TRUE") ===
      "SELECT x FROM t LATERAL VIEW OUTER inline(transform(array_repeat(0, " +
        "greatest(size(a), size(b))), (__unv, __uni) -> " +
        "struct(try_element_at(a, __uni + 1) AS x, try_element_at(b, __uni + 1) AS y, " +
        "CAST(__uni + 1 AS BIGINT) AS i))) u AS x, y, i")
    // the per-array column list is REQUIRED (no bare-alias multi form),
    // and the count must match
    intercept[UnsupportedError](Dialect.rewriteUnnest(
      "SELECT 1 FROM t CROSS JOIN UNNEST(a, b) AS u"))
    intercept[UnsupportedError](Dialect.rewriteUnnest(
      "SELECT 1 FROM t CROSS JOIN UNNEST(a, b) AS u(x)"))
    intercept[UnsupportedError](Dialect.rewriteUnnest(
      "SELECT 1 FROM t, UNNEST(a) WHERE k = 1")) // missing alias
    // a literal containing ', UNNEST(' is never touched
    assert(Dialect.rewriteUnnest("SELECT ', UNNEST(x) AS y' AS s FROM t") ===
      "SELECT ', UNNEST(x) AS y' AS s FROM t")
    // Postgres explicit-LATERAL spellings (r19): the LATERAL keyword is
    // consumed — LATERAL VIEW is lateral by construction — under both
    // the comma-FROM and CROSS JOIN joiners, single and multi array
    assert(Dialect.rewriteUnnest(
      "SELECT tok FROM t, LATERAL UNNEST(arr) AS u(tok) WHERE k = 1") ===
      "SELECT tok FROM t LATERAL VIEW explode(arr) u AS tok WHERE k = 1")
    assert(Dialect.rewriteUnnest(
      "SELECT x, y FROM t CROSS JOIN LATERAL UNNEST(a, b) AS u(x, y)") ===
      "SELECT x, y FROM t LATERAL VIEW inline(transform(array_repeat(0, " +
        "greatest(size(a), size(b))), (__unv, __uni) -> " +
        "struct(try_element_at(a, __uni + 1) AS x, try_element_at(b, __uni + 1) AS y))) " +
        "u AS x, y")
    // a relation actually NAMED lateral (no UNNEST call after it) is untouched
    assert(Dialect.rewriteUnnest("SELECT a FROM t, lateral l WHERE k = 1") ===
      "SELECT a FROM t, lateral l WHERE k = 1")
    // UNNEST as the FIRST/only FROM item (r19 review — a raw parse
    // error before): a FROM-less generator subquery; plain, LATERAL,
    // ORDINALITY, OFFSET, and zip forms all compose
    assert(Dialect.rewriteUnnest(
      "SELECT x FROM UNNEST(array(1, 2)) AS t(x) WHERE x > 1") ===
      "SELECT x FROM (SELECT explode(array(1, 2)) AS x) t WHERE x > 1")
    assert(Dialect.rewriteUnnest(
      "SELECT x FROM LATERAL UNNEST(arr) AS t(x)") ===
      "SELECT x FROM (SELECT explode(arr) AS x) t")
    assert(Dialect.rewriteUnnest(
      "SELECT x FROM UNNEST(arr) WITH ORDINALITY AS t(x, i)") ===
      "SELECT x FROM (SELECT inline(transform(arr, (__unv, __uni) -> " +
        "struct(__unv AS x, CAST(__uni + 1 AS BIGINT) AS i)))) t")
    assert(Dialect.rewriteUnnest(
      "SELECT x FROM UNNEST(arr) AS x WITH OFFSET AS o") ===
      "SELECT x FROM (SELECT posexplode(arr) AS (o, x)) __unnest_x")
    assert(Dialect.rewriteUnnest(
      "SELECT x, y FROM UNNEST(a, b) AS t(x, y)") ===
      "SELECT x, y FROM (SELECT inline(transform(array_repeat(0, " +
        "greatest(size(a), size(b))), (__unv, __uni) -> " +
        "struct(try_element_at(a, __uni + 1) AS x, try_element_at(b, __uni + 1) AS y)))) t")
    // a second UNNEST item after a first-position one composes via the
    // comma pass
    assert(Dialect.rewriteUnnest(
      "SELECT x, y FROM UNNEST(a) AS t(x), UNNEST(b) AS u(y)") ===
      "SELECT x, y FROM (SELECT explode(a) AS x) t LATERAL VIEW explode(b) u AS y")
    // comment text mentioning FROM UNNEST( neither fires the rewrite
    // nor skews the real one's paren match (r19 second review —
    // opaque spans)
    assert(Dialect.rewriteUnnest(
      "SELECT x /* docs: FROM UNNEST( */ FROM t, UNNEST(t.arr) AS u(x)") ===
      "SELECT x /* docs: FROM UNNEST( */ FROM t LATERAL VIEW explode(t.arr) u AS x")

    // BigQuery array subscripts → element_at family (base recovered by
    // the backward postfix scan: ident chains, call suffixes, nesting).
    // Non-positive indices are guarded: Spark's element_at reads a
    // negative index from the array END where BigQuery's SAFE_ forms
    // return NULL and the plain forms error.
    assert(Dialect.rewriteBqSubscript("SELECT arr[OFFSET(0)] FROM t") ===
      "SELECT element_at(arr, (CASE WHEN (0) >= 0 THEN (0) + 1 ELSE 0 END)) FROM t")
    assert(Dialect.rewriteBqSubscript("SELECT f(x)[SAFE_OFFSET(i + 1)] FROM t") ===
      "SELECT try_element_at(f(x), (CASE WHEN (i + 1) >= 0 THEN (i + 1) + 1 END)) FROM t")
    assert(Dialect.rewriteBqSubscript("SELECT a.b[ORDINAL(2)] FROM t") ===
      "SELECT element_at(a.b, (CASE WHEN (2) >= 1 THEN (2) ELSE 0 END)) FROM t")
    assert(Dialect.rewriteBqSubscript("SELECT arr[0][SAFE_ORDINAL(9)] FROM t") ===
      "SELECT try_element_at(arr[0], (CASE WHEN (9) >= 1 THEN (9) END)) FROM t")
    // plain (non-OFFSET) subscripts pass through untouched
    assert(Dialect.rewriteBqSubscript("SELECT arr[0] FROM t") === "SELECT arr[0] FROM t")

    // Snowflake LATERAL FLATTEN → posexplode keeping index/value names
    assert(Dialect.rewriteSnowFlatten(
      "SELECT f.value FROM t, LATERAL FLATTEN(input => arr) f WHERE k = 1") ===
      "SELECT f.value FROM t LATERAL VIEW posexplode(arr) f AS index, value WHERE k = 1")
    assert(Dialect.rewriteSnowFlatten(
      "SELECT f.value FROM t, LATERAL FLATTEN(input => arr, outer => true) AS f") ===
      "SELECT f.value FROM t LATERAL VIEW OUTER posexplode(arr) f AS index, value")
    // path => navigates into the input before flattening (r13); the
    // subscripted chain and mode => 'ARRAY' no-op both compose
    assert(Dialect.rewriteSnowFlatten(
      "SELECT f.value FROM t, LATERAL FLATTEN(input => st, path => 'tags') f") ===
      "SELECT f.value FROM t LATERAL VIEW posexplode((st).tags) f AS index, value")
    assert(Dialect.rewriteSnowFlatten(
      "SELECT 1 FROM t, LATERAL FLATTEN(input => st, path => 'a[0].b', " +
        "outer => true, mode => 'ARRAY') f") ===
      "SELECT 1 FROM t LATERAL VIEW OUTER posexplode((st).a[0].b) f AS index, value")
    // mode => 'OBJECT' (r14): key iteration via MAP explode; a whole-call
    // OBJECT_CONSTRUCT input (named_struct after the rename step) swaps
    // to Spark's map() so the entries ARE explodable
    assert(Dialect.rewriteSnowFlatten(
      "SELECT f.key, f.value FROM t, LATERAL FLATTEN(input => m, mode => 'OBJECT') f") ===
      "SELECT f.key, f.value FROM t LATERAL VIEW explode(m) f AS key, value")
    assert(Dialect.rewriteSnowFlatten(
      "SELECT f.key FROM t, LATERAL FLATTEN(" +
        "input => named_struct('a', x, 'b', y), mode => 'OBJECT', outer => true) f") ===
      "SELECT f.key FROM t LATERAL VIEW OUTER explode(map('a', x, 'b', y)) f AS key, value")
    // …but a named_struct that is only PART of the input is left alone
    // (the swap is whole-call only — anything else fails in the analyzer)
    assert(Dialect.rewriteSnowFlatten(
      "SELECT 1 FROM t, LATERAL FLATTEN(input => g(named_struct('a', x)), mode => 'OBJECT') f") ===
      "SELECT 1 FROM t LATERAL VIEW explode(g(named_struct('a', x))) f AS key, value")
    // VARIANT-metadata columns (r15): path = '[index]' and this = the
    // flattened input, substituted at every reference site; seq and
    // path-with-a-path-argument fail fast with named errors
    assert(Dialect.rewriteSnowFlatten(
      "SELECT f.path, f.value FROM t, LATERAL FLATTEN(input => arr) f") ===
      "SELECT concat('[', CAST(f.index AS STRING), ']'), f.value " +
        "FROM t LATERAL VIEW posexplode(arr) f AS index, value")
    assert(Dialect.rewriteSnowFlatten(
      "SELECT f.this, f.value FROM t, LATERAL FLATTEN(input => arr) f") ===
      "SELECT (arr), f.value FROM t LATERAL VIEW posexplode(arr) f AS index, value")
    intercept[UnsupportedError](Dialect.rewriteSnowFlatten(
      "SELECT f.seq FROM t, LATERAL FLATTEN(input => arr) f"))
    // f.path with a path => argument composes as '<path>[i]' (r16 — a
    // named fail-fast before)
    assert(Dialect.rewriteSnowFlatten(
      "SELECT f.path FROM t, LATERAL FLATTEN(input => st, path => 'tags') f") ===
      "SELECT concat('tags[', CAST(f.index AS STRING), ']') " +
        "FROM t LATERAL VIEW posexplode((st).tags) f AS index, value")
    // non-literal path, malformed chain, BOTH mode, recursive fail fast
    intercept[UnsupportedError](Dialect.rewriteSnowFlatten(
      "SELECT 1 FROM t, LATERAL FLATTEN(input => a, path => p) f"))
    intercept[UnsupportedError](Dialect.rewriteSnowFlatten(
      "SELECT 1 FROM t, LATERAL FLATTEN(input => a, path => 'x; drop') f"))
    intercept[UnsupportedError](Dialect.rewriteSnowFlatten(
      "SELECT 1 FROM t, LATERAL FLATTEN(input => a, mode => 'BOTH') f"))
    intercept[UnsupportedError](Dialect.rewriteSnowFlatten(
      "SELECT 1 FROM t, LATERAL FLATTEN(input => a, recursive => true) f"))
    intercept[UnsupportedError](Dialect.rewriteSnowFlatten(
      "SELECT 1 FROM t, LATERAL FLATTEN(input => a) WHERE k = 1")) // missing alias

    // ClickHouse multi-array ARRAY JOIN (r13): positional zip via
    // inline(transform(array_repeat…)) — empty arrays yield zero rows
    assert(Dialect.rewriteChArrayJoin(
      "SELECT k FROM t ARRAY JOIN a AS x, b AS y WHERE k > 1") ===
      "SELECT k FROM t LATERAL VIEW inline(transform(array_repeat(0, " +
        "greatest(size(a), size(b))), (__ajx, __aji) -> " +
        "struct(try_element_at(a, __aji + 1) AS x, " +
        "try_element_at(b, __aji + 1) AS y))) __aj_x AS x, y WHERE k > 1")
    // single-array form unchanged; every item still needs its alias
    assert(Dialect.rewriteChArrayJoin(
      "SELECT k FROM t ARRAY JOIN splitByChar('-', s) AS x WHERE k > 1") ===
      "SELECT k FROM t LATERAL VIEW explode(splitByChar('-', s)) __aj_x AS x WHERE k > 1")
    intercept[UnsupportedError](Dialect.rewriteChArrayJoin(
      "SELECT k FROM t ARRAY JOIN a, b AS y WHERE k > 1"))
    // a FOLLOWING join ends the clause at the full join phrase — the
    // LEFT of `LEFT JOIN` never dangles inside the last item
    assert(Dialect.rewriteChArrayJoin(
      "SELECT k, x FROM t ARRAY JOIN arr AS x LEFT JOIN dim ON t.k = dim.k") ===
      "SELECT k, x FROM t LATERAL VIEW explode(arr) __aj_x AS x LEFT JOIN dim ON t.k = dim.k")
    // …while LEFT as the STRING FUNCTION inside an item stays an item
    assert(Dialect.rewriteChArrayJoin(
      "SELECT k FROM t ARRAY JOIN a AS x, array(LEFT(s, 2)) AS y WHERE k > 1")
      .contains("try_element_at(array(LEFT(s, 2)), __aji + 1) AS y"))
    // chained ARRAY JOIN clauses rewrite one per pass
    assert(Dialect.rewriteChArrayJoin(
      "SELECT k FROM t ARRAY JOIN a AS x LEFT ARRAY JOIN b AS y") ===
      "SELECT k FROM t LATERAL VIEW explode(a) __aj_x AS x " +
        "LATERAL VIEW OUTER explode(b) __aj_y AS y")

    // ClickHouse LIMIT n BY (r13): top-n per key as a row_number window —
    // the statement's ORDER BY drives the window AND survives outside
    sameRows(Dialect.rewriteChLimitBy(
      "SELECT g, v FROM t ORDER BY v DESC LIMIT 2 BY g LIMIT 10"), "SELECT g, v FROM ( SELECT g, v, row_number() OVER (PARTITION BY g " +
        "ORDER BY v DESC) AS __lb FROM t ) __lby WHERE __lb <= 2 ORDER BY v DESC LIMIT 10")
    // no ORDER BY: window ordered by the keys (deterministic pick where
    // ClickHouse is arbitrary), NO outer sort the statement didn't have
    sameRows(Dialect.rewriteChLimitBy("SELECT g, v FROM t LIMIT 1 BY g"), "SELECT g, v FROM ( SELECT g, v, row_number() OVER (PARTITION BY g " +
        "ORDER BY g) AS __lb FROM t ) __lby WHERE __lb <= 1")
    // ORDER BY naming a SELECT ALIAS (canonical ClickHouse): the window
    // sort key resolves back to the aliased EXPRESSION — Spark cannot
    // read a lateral alias inside a window — while the outer ORDER BY
    // keeps the alias the outer projection exposes
    sameRows(Dialect.rewriteChLimitBy(
      "SELECT g, v * 2 AS d FROM t ORDER BY d DESC LIMIT 1 BY g"), "SELECT g, d FROM ( SELECT g, v * 2 AS d, row_number() OVER (PARTITION BY g " +
        "ORDER BY (v * 2) DESC) AS __lb FROM t ) __lby WHERE __lb <= 1 ORDER BY d DESC")
    // offset forms (r14): ClickHouse's `LIMIT offset, n BY` (MySQL
    // convention — FIRST number is the skip) and `LIMIT n OFFSET m BY`
    // keep offset < rank <= offset + n
    sameRows(Dialect.rewriteChLimitBy(
      "SELECT g, v FROM t ORDER BY v DESC LIMIT 2, 3 BY g LIMIT 10"), "SELECT g, v FROM ( SELECT g, v, row_number() OVER (PARTITION BY g " +
        "ORDER BY v DESC) AS __lb FROM t ) __lby WHERE __lb > 2 AND __lb <= 5 " +
        "ORDER BY v DESC LIMIT 10")
    sameRows(Dialect.rewriteChLimitBy(
      "SELECT g, v FROM t LIMIT 3 OFFSET 2 BY g"), "SELECT g, v FROM ( SELECT g, v, row_number() OVER (PARTITION BY g " +
        "ORDER BY g) AS __lb FROM t ) __lby WHERE __lb > 2 AND __lb <= 5")
    // a non-LIMIT clause after the keys would be swallowed into
    // PARTITION BY — fail fast naming it (r14, advice item)
    intercept[UnsupportedError](Dialect.rewriteChLimitBy(
      "SELECT g FROM t LIMIT 2 BY g SETTINGS max_threads = 4"))
    intercept[UnsupportedError](Dialect.rewriteChLimitBy(
      "SELECT g FROM t LIMIT 2 BY g UNION ALL SELECT g FROM u"))
    intercept[UnsupportedError](Dialect.rewriteChLimitBy(
      "SELECT g FROM t LIMIT 2 BY g FORMAT JSONEachRow"))
    // …but the ender detection matches CLAUSE shapes, not bare words: a
    // key column literally named `format` stays a key
    sameRows(Dialect.rewriteChLimitBy("SELECT format, v FROM t LIMIT 2 BY format"), "SELECT format, v FROM ( SELECT format, v, row_number() OVER (PARTITION BY format " +
        "ORDER BY format) AS __lb FROM t ) __lby WHERE __lb <= 2")
    // SELECT DISTINCT composes (r18 — a named fail-fast before):
    // ClickHouse applies DISTINCT before ORDER BY/LIMIT BY, so the
    // window ranks the DISTINCT subquery and keys resolve to OUTPUT
    // names (alias, name, or matching expression text)
    sameRows(Dialect.rewriteChLimitBy(
      "SELECT DISTINCT g, v * 2 AS d FROM t ORDER BY d DESC LIMIT 1 BY g LIMIT 5"), "SELECT g, d FROM ( SELECT *, row_number() OVER (PARTITION BY g " +
        "ORDER BY d DESC) AS __lb FROM ( SELECT DISTINCT g, v * 2 AS d FROM t ) __lbd ) " +
        "__lby WHERE __lb <= 1 ORDER BY d DESC LIMIT 5")
    // a key matching an item's EXPRESSION resolves to that item's name;
    // ordinals resolve on the ORDER BY side
    sameRows(Dialect.rewriteChLimitBy(
      "SELECT DISTINCT g, v * 2 AS d FROM t ORDER BY 2 DESC LIMIT 1 BY v * 2"), "SELECT g, d FROM ( SELECT *, row_number() OVER (PARTITION BY d " +
        "ORDER BY d DESC) AS __lb FROM ( SELECT DISTINCT g, v * 2 AS d FROM t ) __lbd ) " +
        "__lby WHERE __lb <= 1 ORDER BY d DESC")
    // a key unavailable after the distinct stays a loud named error
    intercept[UnsupportedError](Dialect.rewriteChLimitBy(
      "SELECT DISTINCT g FROM t LIMIT 1 BY other"))
    intercept[UnsupportedError](Dialect.rewriteChLimitBy(
      "SELECT DISTINCT ON (g) g, v FROM t LIMIT 1 BY g"))
    // hinted DISTINCT composes (r18 review: the SELECT-anchored regex
    // missed it) — the hint re-emitted on the inner select, before the
    // DISTINCT keyword (Spark's grammar order); a backtick-QUOTED key
    // resolves to the output name
    sameRows(Dialect.rewriteChLimitBy(
      "SELECT /*+ REPARTITION(4) */ DISTINCT g, v * 2 AS d FROM t ORDER BY `d` LIMIT 1 BY g"), "SELECT g, d FROM ( SELECT *, row_number() OVER (PARTITION BY g " +
        "ORDER BY d) AS __lb FROM ( SELECT /*+ REPARTITION(4) */ DISTINCT g, v * 2 AS d " +
        "FROM t ) __lbd ) __lby WHERE __lb <= 1 ORDER BY d")
    // a LIMIT BY inside a comment is text, not a clause (r18 review)
    assert(Dialect.rewriteChLimitBy("SELECT g, v FROM t -- old: LIMIT 2 BY g") ===
      "SELECT g, v FROM t -- old: LIMIT 2 BY g")
    // …and the quoted-key resolution applies to the DISTINCT+TIES branch
    // of the shared rank builder too
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT g FROM t ORDER BY `g` FETCH FIRST 1 ROWS WITH TIES")
      .contains("rank() OVER (ORDER BY g NULLS LAST)"))
    // keyless BY fails fast; literal trigger text untouched
    assert(Dialect.rewriteChLimitBy("SELECT ' LIMIT 2 BY g' AS s FROM t") ===
      "SELECT ' LIMIT 2 BY g' AS s FROM t")
    // ORDINAL sort key (r15 judge fix): `ORDER BY 2` must resolve to the
    // 2nd select item inside the window (an integer is a CONSTANT in an
    // OVER clause) while the outer ORDER BY keeps the ordinal; a key
    // that merely starts with a digit (`2 + v`) is an expression and
    // passes through; out-of-range positions raise
    sameRows(Dialect.rewriteChLimitBy(
      "SELECT g, v FROM t ORDER BY 2 DESC LIMIT 1 BY g"), "SELECT g, v FROM ( SELECT g, v, row_number() OVER (PARTITION BY g " +
        "ORDER BY (v) DESC) AS __lb FROM t ) __lby WHERE __lb <= 1 ORDER BY 2 DESC")
    sameRows(Dialect.rewriteChLimitBy(
      "SELECT g, v * 2 AS d FROM t ORDER BY 2 LIMIT 1 BY g"), "SELECT g, d FROM ( SELECT g, v * 2 AS d, row_number() OVER (PARTITION BY g " +
        "ORDER BY (v * 2)) AS __lb FROM t ) __lby WHERE __lb <= 1 ORDER BY 2")
    assert(Dialect.rewriteChLimitBy(
      "SELECT g, v FROM t ORDER BY 2 + v LIMIT 1 BY g").contains("ORDER BY 2 + v) AS __lb"))
    intercept[UnsupportedError](Dialect.rewriteChLimitBy(
      "SELECT g, v FROM t ORDER BY 3 LIMIT 1 BY g"))

    // T-SQL PIVOT (r13): backticked IN values (post-bracket-pass) become
    // 'v' AS `v` literals, numerics stay unquoted, the REQUIRED T-SQL
    // pivot alias is stripped (Spark's native PIVOT rejects one)
    assert(Dialect.rewriteTsqlPivot(
      "SELECT prio, `F` FROM src PIVOT (COUNT(k) FOR st IN (`F`, `O`)) p ORDER BY prio") ===
      "SELECT prio, `F` FROM src PIVOT (COUNT(k) FOR st IN ('F' AS `F`, 'O' AS `O`)) ORDER BY prio")
    assert(Dialect.rewriteTsqlPivot(
      "SELECT a FROM s PIVOT (SUM(v) FOR yr IN (`2020`, `2021`)) AS pv") ===
      "SELECT a FROM s PIVOT (SUM(v) FOR yr IN (2020 AS `2020`, 2021 AS `2021`))")
    // already-literal items and non-PIVOT text pass through
    assert(Dialect.rewriteTsqlPivot(
      "SELECT a FROM s PIVOT (SUM(v) FOR k IN ('x' AS x))") ===
      "SELECT a FROM s PIVOT (SUM(v) FOR k IN ('x' AS x))")
    assert(Dialect.rewriteTsqlPivot("SELECT 'PIVOT (x FOR y IN (z))' AS s FROM t") ===
      "SELECT 'PIVOT (x FOR y IN (z))' AS s FROM t")
    intercept[UnsupportedError](Dialect.rewriteTsqlPivot(
      "SELECT a FROM s PIVOT (SUM(v) FOR k IN (a + b))"))

    // ARRAY_AGG inline ORDER BY (r13, r14): sort-key struct collect with
    // each key's leading is-null bool pinning the DIALECT's default null
    // placement (Postgres flips to nulls-first on DESC; DuckDB keeps
    // nulls-last in both directions)
    def pgAgg(s: String) = pgArrayAgg(s, descNullsLast = false)
    def duckAgg(s: String) = pgArrayAgg(s, descNullsLast = true)
    assert(pgAgg("SELECT ARRAY_AGG(x ORDER BY k) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        "'__n0', (k) IS NULL, '__o0', k, '__v', x)), true), s -> s.__v) FROM t")
    assert(pgAgg("SELECT array_agg(x ORDER BY k DESC) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        "'__n0', (k) IS NULL, '__o0', k, '__v', x)), false), s -> s.__v) FROM t")
    // DuckDB polarity: ASC matches Postgres, DESC flips the probe so NULL
    // keys still sort LAST
    assert(duckAgg("SELECT array_agg(x ORDER BY k) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        "'__n0', (k) IS NULL, '__o0', k, '__v', x)), true), s -> s.__v) FROM t")
    assert(duckAgg("SELECT array_agg(x ORDER BY k DESC) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        "'__n0', (k) IS NOT NULL, '__o0', k, '__v', x)), false), s -> s.__v) FROM t")
    // multi-key (r14): one probe/key field pair per sort key, compared in order
    assert(pgAgg("SELECT array_agg(x ORDER BY a, b) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        "'__n0', (a) IS NULL, '__o0', a, " +
        "'__n1', (b) IS NULL, '__o1', b, '__v', x)), true), s -> s.__v) FROM t")
    assert(duckAgg("SELECT array_agg(x ORDER BY a DESC, b DESC) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        "'__n0', (a) IS NOT NULL, '__o0', a, " +
        "'__n1', (b) IS NOT NULL, '__o1', b, '__v', x)), false), s -> s.__v) FROM t")
    // plain array_agg (no inline order) passes through untouched
    assert(pgAgg("SELECT array_agg(x) FROM t") === "SELECT array_agg(x) FROM t")
    // depth guard (r14): an ORDER BY nested in a parenthesized
    // subexpression belongs to THAT subexpression — the call passes
    // through as a plain unordered array_agg instead of splitting
    // mid-expression into unbalanced SQL
    assert(pgAgg("SELECT array_agg((SELECT max(v) FROM u ORDER BY v)) FROM t") ===
      "SELECT array_agg((SELECT max(v) FROM u ORDER BY v)) FROM t")
    assert(pgAgg("SELECT array_agg(f((x ORDER BY y))) FROM t") ===
      "SELECT array_agg(f((x ORDER BY y))) FROM t")
    // …while a real inline ORDER BY alongside a nested one still rewrites
    assert(pgAgg("SELECT array_agg((SELECT max(v) FROM u ORDER BY v) ORDER BY k) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        "'__n0', (k) IS NULL, '__o0', k, '__v', (SELECT max(v) FROM u ORDER BY v))" +
        "), true), s -> s.__v) FROM t")
    // explicit NULLS FIRST/LAST (r14) overrides the dialect default by
    // flipping the probe polarity: ASC NULLS FIRST wants nulls smallest
    assert(pgAgg("SELECT array_agg(x ORDER BY k NULLS FIRST) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        "'__n0', (k) IS NOT NULL, '__o0', k, '__v', x)), true), s -> s.__v) FROM t")
    // DESC NULLS LAST under the Postgres wiring = the non-default side
    assert(pgAgg("SELECT array_agg(x ORDER BY k DESC NULLS LAST) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        "'__n0', (k) IS NOT NULL, '__o0', k, '__v', x)), false), s -> s.__v) FROM t")
    // …and per-key mixed placements compose (directions still uniform)
    assert(duckAgg("SELECT array_agg(x ORDER BY a NULLS FIRST, b NULLS LAST) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        "'__n0', (a) IS NOT NULL, '__o0', a, " +
        "'__n1', (b) IS NULL, '__o1', b, '__v', x)), true), s -> s.__v) FROM t")
    // WITH TIES (r14): rank-filtered subquery; the outer ORDER BY keeps
    // the statement's keys, the window resolves select aliases, and the
    // Postgres/Oracle wiring pins the nulls-largest default placement
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT g, v * 2 AS d FROM t ORDER BY d FETCH NEXT 1 ROW WITH TIES"), "SELECT g, d FROM ( SELECT g, v * 2 AS d, " +
        "rank() OVER (ORDER BY (v * 2) NULLS LAST) AS __wt " +
        "FROM t ) __wtq WHERE __wt <= 1 ORDER BY d NULLS LAST")
    // plain FETCH … ONLY is untouched here (the LIMIT rewrite's job)
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t ORDER BY g FETCH FIRST 3 ROWS ONLY") ===
      "SELECT g FROM t ORDER BY g FETCH FIRST 3 ROWS ONLY")
    // T-SQL TOP n WITH TIES rides the same builder from rewriteTsqlTop
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 3 WITH TIES g, v FROM t ORDER BY v DESC"), "SELECT g, v FROM ( SELECT g, v, rank() OVER (ORDER BY v DESC) AS __wt " +
        "FROM t ) __wtq WHERE __wt <= 3 ORDER BY v DESC")
    // r14 review fixes: the wired dialects (Postgres/Oracle) sort nulls
    // LARGEST — the rank window (which decides row MEMBERSHIP) and the
    // outer ORDER BY both pin the placement Spark would otherwise flip
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT g, v FROM t ORDER BY v DESC FETCH FIRST 3 ROWS WITH TIES"), "SELECT g, v FROM ( SELECT g, v, rank() OVER (ORDER BY v DESC NULLS FIRST) AS __wt " +
        "FROM t ) __wtq WHERE __wt <= 3 ORDER BY v DESC NULLS FIRST")
    // an explicit placement is the user's and stays untouched
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t ORDER BY g NULLS FIRST FETCH FIRST 2 ROWS WITH TIES"), "SELECT g FROM ( SELECT g, rank() OVER (ORDER BY g NULLS FIRST) AS __wt " +
        "FROM t ) __wtq WHERE __wt <= 2 ORDER BY g NULLS FIRST")
    // T-SQL sorts nulls smallest (Spark's default): no pin emitted
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 2 WITH TIES g FROM t ORDER BY g"), "SELECT g FROM ( SELECT g, rank() OVER (ORDER BY g) AS __wt " +
        "FROM t ) __wtq WHERE __wt <= 2 ORDER BY g")
    // leading whitespace is not a shape violation
    assert(Dialect.rewriteFetchFirstWithTies(
      "\n  SELECT g FROM t ORDER BY g FETCH FIRST 2 ROWS WITH TIES").trim.nonEmpty)
    assert(Dialect.rewriteTsqlTop(
      "  SELECT TOP 2 WITH TIES g FROM t ORDER BY g").contains("__wt"))
    // missing ORDER BY fails fast with a named error
    intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t FETCH FIRST 3 ROWS WITH TIES"))
    // set-op WITH TIES applies to the COMBINED result (legal Postgres):
    // `|> EXTEND` ranks the set operation's output, with no session
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t UNION ALL SELECT g FROM u ORDER BY g FETCH FIRST 1 ROWS WITH TIES"),
      "SELECT g FROM (SELECT g, rank() OVER (ORDER BY g NULLS LAST) AS r FROM " +
        "(SELECT g FROM t UNION ALL SELECT g FROM u)) WHERE r <= 1")
    // a paren inside a comment does not skew the depth map and hide the
    // set operation; MINUS is Oracle's EXCEPT spelling
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT a FROM t -- note (important\nUNION SELECT a FROM u " +
        "ORDER BY a FETCH FIRST 1 ROWS WITH TIES"),
      "SELECT a FROM (SELECT a, rank() OVER (ORDER BY a NULLS LAST) AS r FROM " +
        "(SELECT a FROM t UNION SELECT a FROM u)) WHERE r <= 1")
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT a FROM t MINUS SELECT a FROM u WHERE a > 2 ORDER BY a FETCH FIRST 1 ROWS WITH TIES"),
      "SELECT a FROM (SELECT a, rank() OVER (ORDER BY a NULLS LAST) AS r FROM " +
        "(SELECT a FROM t EXCEPT SELECT a FROM u WHERE a > 2)) WHERE r <= 1")
    // a trailing comment AFTER the ties clause is legal SQL — blanked,
    // not raised as trailing text (r17)
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t ORDER BY g FETCH FIRST 2 ROWS WITH TIES -- done")
      .contains("__wt"))
    // a trailing -- comment at the end of the FROM body must not swallow
    // the appended pipe operators
    sameRows(Dialect.rewriteQualify(
      "SELECT a FROM t -- dedup\nQUALIFY row_number() OVER (ORDER BY a) = 1"), "SELECT a FROM ( SELECT a , (row_number() OVER (ORDER BY a) = 1) " +
        "AS __qual FROM t ) __qualify WHERE __qual ")
    // …and T-SQL TOP over a set op stays loud EVEN WITH a session: TOP
    // binds to the first arm in T-SQL, so a combined-result rewrite
    // would be a silent semantics change (setOpOk is FETCH-family only)
    // SUBQUERY-level WITH TIES: the rank rewrite applies to the inner
    // SELECT's own scope, for T-SQL TOP and the ANSI FETCH spelling alike
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT b FROM (SELECT TOP 3 WITH TIES b FROM t ORDER BY b) s"), "SELECT b FROM (SELECT b FROM ( SELECT b, rank() OVER (ORDER BY b) AS __wt " +
        "FROM t ) __wtq WHERE __wt <= 3 ORDER BY b) s")
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT s.b FROM (SELECT b FROM t ORDER BY b FETCH FIRST 2 ROWS WITH TIES) s"), "SELECT s.b FROM (SELECT b FROM ( SELECT b, " +
        "rank() OVER (ORDER BY b NULLS LAST) AS __wt FROM t ) __wtq " +
        "WHERE __wt <= 2 ORDER BY b NULLS LAST) s")
    // …but WITH TIES in a set-operation ARM stays a named fail-fast on
    // both sides (r15 review fix — the splice must not hijack the union's
    // trailing ORDER BY or glue the rank filter onto the set-op keyword);
    // a last-arm PERCENT ranks its own rows and leaves that ORDER BY to
    // the combined result
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT g FROM t UNION ALL SELECT TOP 3 WITH TIES g FROM u ORDER BY g"))
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 3 WITH TIES g FROM t ORDER BY g UNION ALL SELECT g FROM u"))
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT g FROM t UNION ALL SELECT TOP 10 PERCENT g FROM u ORDER BY g"),
      "SELECT g FROM t UNION ALL (SELECT g FROM (SELECT g, row_number() OVER " +
        "(ORDER BY g) AS rn, count(*) OVER () AS ct FROM u) " +
        "WHERE rn <= CEILING(ct * 10 / 100.0)) ORDER BY g")
    // OFFSET m ROWS + WITH TIES (r15 — a named fail-fast before): skip m
    // rows, keep n, plus ties of row m+n — row_number > m AND rank <=
    // the cutoff rank at row m+n, over a frame pre-filtered to the
    // static rank <= m+n bound; a non-literal offset keeps a named error
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t ORDER BY g OFFSET 5 ROWS FETCH FIRST 3 ROWS WITH TIES"), "SELECT g FROM ( SELECT *, " +
        "max(CASE WHEN __wtn <= ((5) + (3)) THEN __wt END) OVER () AS __wtcut " +
        "FROM ( SELECT g, rank() OVER (ORDER BY g NULLS LAST) AS __wt, " +
        "row_number() OVER (ORDER BY g NULLS LAST) AS __wtn FROM t ) __wtq " +
        "WHERE __wt <= ((5) + (3)) ) __wtq2 " +
        "WHERE __wtn > (5) AND __wt <= __wtcut ORDER BY g NULLS LAST")
    intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t ORDER BY g OFFSET 1 + 4 FETCH FIRST 3 ROWS WITH TIES"))
    // Oracle FETCH FIRST n PERCENT (r15): percent cutoff over row_number
    // (ONLY) or rank (WITH TIES) with the nulls-largest placement pinned;
    // OFFSET+PERCENT stays a named fail-fast
    sameRows(Dialect.rewriteFetchFirstPercent(
      "SELECT g FROM t ORDER BY g FETCH FIRST 5 PERCENT ROWS ONLY"), "SELECT g FROM ( SELECT g, row_number() OVER (ORDER BY g NULLS LAST) AS __wt, " +
        "count(*) OVER () AS __wtc FROM t ) __wtq " +
        "WHERE __wt <= CEILING(__wtc * (5) / 100.0) ORDER BY g NULLS LAST")
    sameRows(Dialect.rewriteFetchFirstPercent(
      "SELECT g FROM t ORDER BY g FETCH NEXT 2.5 PERCENT ROWS WITH TIES"), "SELECT g FROM ( SELECT g, rank() OVER (ORDER BY g NULLS LAST) AS __wt, " +
        "count(*) OVER () AS __wtc FROM t ) __wtq " +
        "WHERE __wt <= CEILING(__wtc * (2.5) / 100.0) ORDER BY g NULLS LAST")
    assert(Dialect.rewriteFetchFirstPercent(
      "SELECT g FROM t ORDER BY g FETCH FIRST 3 ROWS ONLY") ===
      "SELECT g FROM t ORDER BY g FETCH FIRST 3 ROWS ONLY")
    // OFFSET + PERCENT composes since r18 (Oracle 12c row_limiting_clause;
    // a named fail-fast before): the percent base is the TOTAL selected
    // row count, the offset becomes the row_number skip (ONLY) or the
    // cutoff-rank rule at m+k (WITH TIES). No session here → the legacy
    // count(*) OVER () shape.
    sameRows(Dialect.rewriteFetchFirstPercent(
      "SELECT g FROM t ORDER BY g OFFSET 2 ROWS FETCH FIRST 5 PERCENT ROWS ONLY"), "SELECT g FROM ( SELECT g, row_number() OVER (ORDER BY g NULLS LAST) AS __wt, " +
        "count(*) OVER () AS __wtc FROM t ) __wtq " +
        "WHERE __wt > (2) AND __wt <= ((2) + CEILING(__wtc * (5) / 100.0)) " +
        "ORDER BY g NULLS LAST")
    sameRows(Dialect.rewriteFetchFirstPercent(
      "SELECT g FROM t ORDER BY g OFFSET 1 ROWS FETCH NEXT 10 PERCENT ROWS WITH TIES"), "SELECT g FROM ( SELECT *, " +
        "max(CASE WHEN __wtn <= ((1) + CEILING(__wtc * (10) / 100.0)) THEN __wt END) " +
        "OVER () AS __wtcut " +
        "FROM ( SELECT g, rank() OVER (ORDER BY g NULLS LAST) AS __wt, " +
        "row_number() OVER (ORDER BY g NULLS LAST) AS __wtn, " +
        "count(*) OVER () AS __wtc FROM t ) __wtq " +
        "WHERE __wt <= ((1) + CEILING(__wtc * (10) / 100.0)) ) __wtq2 " +
        "WHERE __wtn > (1) AND __wt <= __wtcut ORDER BY g NULLS LAST")
    // zero-percent with an offset still short-circuits to LIMIT 0
    sameRows(Dialect.rewriteFetchFirstPercent(
      "SELECT g FROM t ORDER BY g OFFSET 1 ROWS FETCH NEXT 0 PERCENT ROWS ONLY"), "SELECT g FROM ( SELECT g FROM t ) __wtq LIMIT 0")
    // non-literal offset keeps the named error
    intercept[UnsupportedError](Dialect.rewriteFetchFirstPercent(
      "SELECT g FROM t ORDER BY g OFFSET 1 + 1 FETCH FIRST 5 PERCENT ROWS ONLY"))
    // ORDINAL sort keys (r15 judge fix — the r14 silent-wrong-answer):
    // `ORDER BY 2` resolves to the 2nd select item's EXPRESSION inside
    // the rank window (alias stripped — Spark can't read a lateral
    // alias there either), while the outer ORDER BY keeps the ordinal,
    // which stays correct at statement level; out-of-range raises
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT k, v FROM t ORDER BY 2 FETCH FIRST 1 ROWS WITH TIES"), "SELECT k, v FROM ( SELECT k, v, rank() OVER (ORDER BY (v) NULLS LAST) " +
        "AS __wt FROM t ) __wtq WHERE __wt <= 1 ORDER BY 2 NULLS LAST")
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT g, v * 2 AS d FROM t ORDER BY 2 DESC FETCH NEXT 1 ROW WITH TIES"), "SELECT g, d FROM ( SELECT g, v * 2 AS d, " +
        "rank() OVER (ORDER BY (v * 2) DESC NULLS FIRST) AS __wt " +
        "FROM t ) __wtq WHERE __wt <= 1 ORDER BY 2 DESC NULLS FIRST")
    intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t ORDER BY 4 FETCH FIRST 1 ROWS WITH TIES"))
    // T-SQL TOP WITH TIES rides the same ordinal resolution
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 3 WITH TIES g, v FROM t ORDER BY 2 DESC"), "SELECT g, v FROM ( SELECT g, v, rank() OVER (ORDER BY (v) DESC) AS __wt " +
        "FROM t ) __wtq WHERE __wt <= 3 ORDER BY 2 DESC")
    // TOP n PERCENT (r15): row_number over the statement's sort with a
    // global-count cutoff, CEILING per T-SQL's round-up; WITH TIES keeps
    // rank; fractional n needs PERCENT; no-ORDER-BY and subquery
    // placements fail fast
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 10 PERCENT g, v FROM t ORDER BY v DESC"), "SELECT g, v FROM ( SELECT g, v, row_number() OVER (ORDER BY v DESC) AS __wt, " +
        "count(*) OVER () AS __wtc FROM t ) __wtq " +
        "WHERE __wt <= CEILING(__wtc * (10) / 100.0) ORDER BY v DESC")
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 2.5 PERCENT WITH TIES g FROM t ORDER BY g"), "SELECT g FROM ( SELECT g, rank() OVER (ORDER BY g) AS __wt, " +
        "count(*) OVER () AS __wtc FROM t ) __wtq " +
        "WHERE __wt <= CEILING(__wtc * (2.5) / 100.0) ORDER BY g")
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 10 PERCENT g FROM t"))
    // subquery-level PERCENT rides the same scope-span splice (r15)
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT b FROM (SELECT TOP 10 PERCENT b FROM t ORDER BY b) s"), "SELECT b FROM (SELECT b FROM ( SELECT b, row_number() OVER (ORDER BY b) AS __wt, " +
        "count(*) OVER () AS __wtc FROM t ) __wtq " +
        "WHERE __wt <= CEILING(__wtc * (10) / 100.0) ORDER BY b) s")
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 2.5 g FROM t ORDER BY g"))
    // …and the fractional check fires for the WITH TIES form too (r15
    // review fix: the guard ran after the ties branch and was unreachable)
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 2.5 WITH TIES g FROM t ORDER BY g"))
    // TOP WITH TIES / PERCENT compose with QUALIFY where QUALIFY is a
    // clause (Teradata): the TOP rewrite leaves the clause in its SELECT
    // and ranks with `|> EXTEND`, and the later QUALIFY rewrite filters
    // FIRST, so the rank runs over the filtered rows
    locally {
      def teradataTop(q: String) =
        Dialect.rewriteQualify(Dialect.rewriteTsqlTop(q, qualifyClause = true))
      sameRows(teradataTop(
        "SELECT TOP 2 WITH TIES g FROM t QUALIFY row_number() OVER (ORDER BY v) = 1 ORDER BY g"),
        "SELECT g FROM ( SELECT g, rank() OVER (ORDER BY g) AS __wt FROM " +
          "( SELECT g , (row_number() OVER (ORDER BY v) = 1) AS __qual FROM t ) __qualify " +
          "WHERE __qual ) __wtq WHERE __wt <= 2 ORDER BY g")
      // without the clause (T-SQL) the named error is unchanged
      intercept[UnsupportedError](Dialect.rewriteTsqlTop(
        "SELECT TOP 2 WITH TIES g FROM t QUALIFY row_number() OVER (ORDER BY v) = 1 ORDER BY g"))
      // the `)`-preceded position with no predicate stays a named error
      intercept[UnsupportedError](teradataTop(
        "SELECT TOP 2 WITH TIES g FROM (SELECT g FROM u) QUALIFY ORDER BY g"))
    }
    // count-omitted ANSI forms (r15): FETCH FIRST ROW WITH TIES / ONLY
    // default the count to 1 instead of dying as raw parse errors
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t ORDER BY g FETCH FIRST ROW WITH TIES"), "SELECT g FROM ( SELECT g, rank() OVER (ORDER BY g NULLS LAST) AS __wt " +
        "FROM t ) __wtq WHERE __wt <= 1 ORDER BY g NULLS LAST")
    assert(Dialect.rewriteFetchFirst("SELECT a FROM t ORDER BY a FETCH FIRST ROW ONLY") ===
      "SELECT a FROM t ORDER BY a LIMIT 1")
    assert(Dialect.rewriteFetchFirst("SELECT a FROM t ORDER BY a FETCH NEXT ROWS ONLY") ===
      "SELECT a FROM t ORDER BY a LIMIT 1")
    // ZERO-COUNT forms (r16 — the r15 judge's silent wrong answer): a
    // literal 0 count short-circuits to LIMIT 0 in EVERY TIES/PERCENT
    // form. The offset combination was the broken one — its generic
    // membership used row m's own rank as the cutoff, leaking row m's
    // tie-tail where Postgres returns the empty set.
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t ORDER BY g OFFSET 1 ROWS FETCH NEXT 0 ROWS WITH TIES"), "SELECT g FROM ( SELECT g FROM t ) __wtq LIMIT 0")
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t ORDER BY g FETCH FIRST 0 ROWS WITH TIES"), "SELECT g FROM ( SELECT g FROM t ) __wtq LIMIT 0")
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 0 WITH TIES g FROM t ORDER BY g"), "SELECT g FROM ( SELECT g FROM t ) __wtq LIMIT 0")
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT TOP 0 PERCENT WITH TIES g FROM t ORDER BY g"), "SELECT g FROM ( SELECT g FROM t ) __wtq LIMIT 0")
    sameRows(Dialect.rewriteFetchFirstPercent(
      "SELECT g FROM t ORDER BY g FETCH FIRST 0 PERCENT ROWS ONLY"), "SELECT g FROM ( SELECT g FROM t ) __wtq LIMIT 0")
    // …but the zero short-circuit still validates the statement shape:
    // an out-of-range ordinal raises exactly like the non-zero forms
    intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
      "SELECT g FROM t ORDER BY 4 FETCH FIRST 0 ROWS WITH TIES"))
    // AS-less implicit aliases (r16, r15 ADVICE): `v d` names output d,
    // the window ordinal resolves to the EXPRESSION v, and an alias sort
    // key resolves back through the implicit form too
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT g, v d FROM t ORDER BY 2 FETCH FIRST 1 ROWS WITH TIES"), "SELECT g, d FROM ( SELECT g, v d, rank() OVER (ORDER BY (v) NULLS LAST) " +
        "AS __wt FROM t ) __wtq WHERE __wt <= 1 ORDER BY 2 NULLS LAST")
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT g, count(v) c FROM t GROUP BY g ORDER BY c FETCH FIRST 1 ROWS WITH TIES"), "SELECT g, c FROM ( SELECT g, count(v) c, " +
        "rank() OVER (ORDER BY (count(v)) NULLS LAST) AS __wt " +
        "FROM t GROUP BY g ) __wtq WHERE __wt <= 1 ORDER BY c NULLS LAST")
    // non-self-contained shapes are still never guessed as aliases: an
    // ordinal on one, or on a star, ranks the output by position
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT v + 1 d FROM t ORDER BY 1 FETCH FIRST 1 ROWS WITH TIES"),
      "SELECT d FROM (SELECT v + 1 d, rank() OVER (ORDER BY v + 1 NULLS LAST) AS r FROM t) WHERE r <= 1")
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT * FROM t ORDER BY 2 FETCH FIRST 1 ROWS WITH TIES"),
      "SELECT * EXCEPT (r) FROM (SELECT *, rank() OVER (ORDER BY b NULLS LAST) AS r FROM t) WHERE r <= 1")
    // SELECT DISTINCT composes (r16 — a named fail-fast before):
    // DISTINCT applies FIRST, the rank runs over the DISTINCT output,
    // and the window keys resolve to OUTPUT NAMES (ordinals, aliases,
    // and item-expression text all map to the name; an expression not
    // in the select list raises like Postgres's own binder)
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT g, v * 2 AS d FROM t ORDER BY 2 FETCH FIRST 1 ROWS WITH TIES"), "SELECT g, d FROM ( SELECT *, rank() OVER (ORDER BY d NULLS LAST) AS __wt " +
        "FROM ( SELECT DISTINCT g, v * 2 AS d FROM t ) __wtd ) __wtq " +
        "WHERE __wt <= 1 ORDER BY d NULLS LAST")
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT g, v * 2 AS d FROM t ORDER BY v * 2 DESC FETCH FIRST 1 ROWS WITH TIES"), "SELECT g, d FROM ( SELECT *, rank() OVER (ORDER BY d DESC NULLS FIRST) AS __wt " +
        "FROM ( SELECT DISTINCT g, v * 2 AS d FROM t ) __wtd ) __wtq " +
        "WHERE __wt <= 1 ORDER BY d DESC NULLS FIRST")
    intercept[UnsupportedError](Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT g FROM t ORDER BY v + 1 FETCH FIRST 1 ROWS WITH TIES"))
    // T-SQL SELECT DISTINCT TOP n rides the same path; plain TOP keeps
    // the DISTINCT keyword ahead of the LIMIT placement
    sameRows(Dialect.rewriteTsqlTop(
      "SELECT DISTINCT TOP 3 WITH TIES g FROM t ORDER BY g"), "SELECT g FROM ( SELECT *, rank() OVER (ORDER BY g) AS __wt " +
        "FROM ( SELECT DISTINCT g FROM t ) __wtd ) __wtq " +
        "WHERE __wt <= 3 ORDER BY g")
    sameRows(Dialect.rewriteTsqlTop("SELECT DISTINCT TOP 3 g FROM t ORDER BY g"), "SELECT DISTINCT g FROM t ORDER BY g LIMIT 3 ")
    // DISTINCT + zero count short-circuits over the DISTINCT subquery
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT DISTINCT g FROM t ORDER BY g FETCH FIRST 0 ROWS WITH TIES"), "SELECT g FROM ( SELECT DISTINCT g FROM t ) __wtq LIMIT 0")
    // a QUALIFY or DISTINCT ON keyword inside a comment does not
    // trigger those rewrites (r17 ADVICE — comment-unaware spans let
    // the nested path splice against comment text)
    assert(Dialect.rewriteQualify(
      "SELECT s FROM (SELECT s /* QUALIFY rn = 1 */ FROM t) x") ===
      "SELECT s FROM (SELECT s /* QUALIFY rn = 1 */ FROM t) x")
    assert(Dialect.rewriteDistinctOn(
      "SELECT s FROM (SELECT s -- SELECT DISTINCT ON (g)\n FROM t) x") ===
      "SELECT s FROM (SELECT s -- SELECT DISTINCT ON (g)\n FROM t) x")
    // DISTINCT ON followed by a FETCH/OFFSET tail (r16): the tail is
    // re-emitted after the rewrite for the chain's paging steps, instead
    // of being swallowed into the ORDER BY key list
    sameRows(Dialect.rewriteFetchFirst(Dialect.rewriteDistinctOn(
      "SELECT DISTINCT ON (g) g, v FROM t ORDER BY g, v FETCH FIRST 2 ROWS ONLY")), "SELECT g, v FROM ( SELECT g, v, " +
        "row_number() OVER (PARTITION BY g ORDER BY g, v) AS __rn FROM t ) __don " +
        "WHERE __rn = 1 ORDER BY g, v LIMIT 2")
    // SUBQUERY/CTE-level QUALIFY and DISTINCT ON: every SELECT scope is a
    // site, at any depth
    sameRows(Dialect.rewriteQualify(
      "WITH x AS (SELECT s, k FROM t QUALIFY k = 1) SELECT s FROM x"), "WITH x AS (SELECT * FROM ( SELECT s, k FROM t ) __qualify WHERE k = 1 ) SELECT s FROM x")
    sameRows(Dialect.rewriteDistinctOn(
      "WITH x AS (SELECT DISTINCT ON (g) g, v FROM t ORDER BY g, v) SELECT g FROM x"), "WITH x AS (SELECT g, v FROM ( SELECT g, v, " +
        "row_number() OVER (PARTITION BY g ORDER BY g, v) AS __rn FROM t ) __don " +
        "WHERE __rn = 1 ORDER BY g, v) SELECT g FROM x")
    // membership null-placement pin (r16 review): a TRUNCATED statement
    // ORDER BY and every window ORDER BY get the dialect default
    // spelled out; an un-truncated statement ORDER BY stays untouched
    // (order of the full row set is not membership)
    assert(Dialect.pinSortNulls("SELECT s FROM t ORDER BY s LIMIT 1") ===
      "SELECT s FROM t ORDER BY s NULLS LAST LIMIT 1")
    assert(Dialect.pinSortNulls("SELECT s FROM t ORDER BY s DESC, k LIMIT 1") ===
      "SELECT s FROM t ORDER BY s DESC NULLS FIRST, k NULLS LAST LIMIT 1")
    assert(Dialect.pinSortNulls("SELECT s FROM t ORDER BY s DESC LIMIT 1",
      alwaysLast = true) ===
      "SELECT s FROM t ORDER BY s DESC NULLS LAST LIMIT 1")
    assert(Dialect.pinSortNulls("SELECT s FROM t ORDER BY s") ===
      "SELECT s FROM t ORDER BY s")
    assert(Dialect.pinSortNulls(
      "SELECT row_number() OVER (PARTITION BY g ORDER BY s DESC " +
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t") ===
      "SELECT row_number() OVER (PARTITION BY g ORDER BY s DESC NULLS FIRST " +
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")
    assert(Dialect.pinSortNulls(
      "SELECT sum(v) OVER w FROM t WINDOW w AS (ORDER BY s) ORDER BY v") ===
      "SELECT sum(v) OVER w FROM t WINDOW w AS (ORDER BY s NULLS LAST ) ORDER BY v")
    // explicit placements and literal text are never touched
    assert(Dialect.pinSortNulls("SELECT s FROM t ORDER BY s NULLS FIRST LIMIT 1") ===
      "SELECT s FROM t ORDER BY s NULLS FIRST LIMIT 1")
    assert(Dialect.pinSortNulls("SELECT 'ORDER BY x LIMIT 1' AS s FROM t") ===
      "SELECT 'ORDER BY x LIMIT 1' AS s FROM t")
    // a CTE body is a statement scope, not a window spec — its internal
    // ORDER BY pins only against its OWN LIMIT
    assert(Dialect.pinSortNulls(
      "WITH x AS (SELECT s FROM t ORDER BY s LIMIT 2) SELECT s FROM x ORDER BY s") ===
      "WITH x AS (SELECT s FROM t ORDER BY s NULLS LAST LIMIT 2) SELECT s FROM x ORDER BY s")
    // WITHIN GROUP ordering decides aggregate OUTPUT (listagg string
    // order) — pinned like a window spec (r16 second review)
    assert(Dialect.pinSortNulls(
      "SELECT listagg(v, ',') WITHIN GROUP (ORDER BY k DESC) FROM t") ===
      "SELECT listagg(v, ',') WITHIN GROUP (ORDER BY k DESC NULLS FIRST ) FROM t")
    // a COMMENT inside the key region is normalized to whitespace and
    // the site pinned normally (r17 — r16 DECLINED these sites, which
    // silently kept Spark's null polarity: the exact membership drift
    // the pin exists to kill; the r16 swallow hazard — the pin or the
    // trailing LIMIT appended after `--` — is gone with the comment)
    assert(Dialect.pinSortNulls(
      "SELECT s FROM t ORDER BY s -- pick first\nLIMIT 1") ===
      "SELECT s FROM t ORDER BY s NULLS LAST LIMIT 1")
    assert(Dialect.pinSortNulls(
      "SELECT s FROM t ORDER BY s /* tie-break */, k DESC LIMIT 1") ===
      "SELECT s FROM t ORDER BY s NULLS LAST, k DESC NULLS FIRST LIMIT 1")
    // a comma or DESC hidden inside the comment is comment TEXT, never
    // key structure; an apostrophe inside it must not flip literal
    // parity when the blanked keys re-lex
    assert(Dialect.pinSortNulls(
      "SELECT s FROM t ORDER BY s -- not ,k DESC\nLIMIT 1") ===
      "SELECT s FROM t ORDER BY s NULLS LAST LIMIT 1")
    assert(Dialect.pinSortNulls(
      "SELECT s FROM t ORDER BY s /* that's it */ DESC LIMIT 1") ===
      "SELECT s FROM t ORDER BY s DESC NULLS FIRST LIMIT 1")
    // window spec keys with a comment pin too
    assert(Dialect.pinSortNulls(
      "SELECT row_number() OVER (ORDER BY s -- note\n) FROM t") ===
      "SELECT row_number() OVER (ORDER BY s NULLS LAST ) FROM t")
    // a key region that is ONLY a comment stays byte-identical (loud
    // malformed SQL reaches Spark's parser unchanged)
    assert(Dialect.pinSortNulls(
      "SELECT s FROM t ORDER BY /* x */ LIMIT 1") ===
      "SELECT s FROM t ORDER BY /* x */ LIMIT 1")
    // bracketed comments NEST in Spark/Postgres/DuckDB (r17 review —
    // ending at the first */ left the outer tail as live key text)
    assert(Dialect.pinSortNulls(
      "SELECT s FROM t ORDER BY s /* a /* b */ c */ LIMIT 1") ===
      "SELECT s FROM t ORDER BY s NULLS LAST LIMIT 1")
    // optimizer hints are comments to the lexer but plan directives to
    // Spark — they survive the blanking (r17 review: blanking one
    // silently dropped a BROADCAST and changed the physical plan)
    assert(Dialect.blankComments(
      "SELECT /*+ BROADCAST(d) */ a FROM f JOIN d ON f.k = d.k -- note\n") ===
      "SELECT /*+ BROADCAST(d) */ a FROM f JOIN d ON f.k = d.k         ")
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT /*+ REPARTITION(3) */ g FROM t ORDER BY g FETCH FIRST 2 ROWS WITH TIES")
      .contains("/*+ REPARTITION(3) */"))
    // …the hint rides the INNER select (where the scans/joins live) and
    // never leaks into the outer name projection
    assert(Dialect.rewriteQualify(
      "SELECT /*+ BROADCAST(t) */ a, b FROM t QUALIFY row_number() OVER (ORDER BY a) = 1")
      .startsWith("SELECT /*+ BROADCAST(t) */ a, b, "))
    // only the SELECT-adjacent position is a live hint — elsewhere the
    // /*+ text is inert to Spark and blanked like any comment, so item
    // naming and key splitting stay clean (second r17 review pass)
    assert(Dialect.blankComments("SELECT a, b /*+ note */ FROM t") ===
      "SELECT a, b " + (" " * "/*+ note */".length) + " FROM t")
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT a, b /*+ note */ FROM t ORDER BY a FETCH FIRST 2 ROWS WITH TIES")
      .contains("__wt"))
    // hint + DISTINCT compose in every rewrite that matches on DISTINCT
    // (second r17 review pass: the SELECT-anchored regexes missed the
    // hinted spelling — TIES threw cannot-name, DISTINCT ON fell
    // through to a raw parse error)
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT /*+ REPARTITION(3) */ DISTINCT g FROM t ORDER BY g FETCH FIRST 1 ROWS WITH TIES")
      .startsWith("SELECT /*+ REPARTITION(3) */ DISTINCT g FROM t |> EXTEND"))
    sameRows(Dialect.rewriteQualify(
      "SELECT /*+ B(t) */ DISTINCT a FROM t QUALIFY row_number() OVER (ORDER BY c) = 1"), "SELECT DISTINCT a FROM ( SELECT /*+ B(t) */ a , " +
        "(row_number() OVER (ORDER BY c) = 1) AS __qual FROM t ) __qualify WHERE __qual ")
    assert(Dialect.rewriteDistinctOn(
      "SELECT /*+ B(t) */ DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC")
      .startsWith("SELECT /*+ B(t) */ k, v, row_number()"))
    // CONSECUTIVE hint blocks are all Spark-honored — all preserved and
    // carried (third r17 review pass: a single-block capture left the
    // second hint inside the first item)
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT /*+ BROADCAST(a) */ /*+ MERGE(b) */ g FROM t " +
        "ORDER BY g FETCH FIRST 2 ROWS WITH TIES")
      .contains("/*+ BROADCAST(a) */ /*+ MERGE(b) */ g"))
    // …a hint separated from SELECT by an ORDINARY comment is still
    // honored by Spark (comments are hidden-channel tokens): the note is
    // blanked, the hint survives
    assert(Dialect.blankComments("SELECT /* note */ /*+ B(t) */ a FROM t")
      .contains("/*+ B(t) */"))
    assert(!Dialect.blankComments("SELECT /* note */ /*+ B(t) */ a FROM t")
      .contains("note"))
    // …but the word SELECT INSIDE a preceding comment does not qualify
    // an inert mid-list hint for preservation
    assert(!Dialect.blankComments(
      "SELECT a, b -- see SELECT\n/*+ note */ FROM t").contains("/*+"))
    // the no-space spelling and a */ inside a string literal cannot fake
    // a DISTINCT ON site (span-based detection, third r17 review pass)
    assert(Dialect.rewriteDistinctOn(
      "SELECT/*+ B(t) */DISTINCT ON (k) k, v FROM t ORDER BY k")
      .contains("row_number() OVER (PARTITION BY k"))
    assert(Dialect.rewriteDistinctOn(
      "SELECT /*+ B(t) */ col FROM t WHERE note = 'x */ DISTINCT ON (y'") ===
      "SELECT /*+ B(t) */ col FROM t WHERE note = 'x */ DISTINCT ON (y'")
    // …and a doubly-parenthesized set-op arm is still detected as a set
    // operation, ranked over the combined output
    sameRows(Dialect.rewriteFetchFirstWithTies(
      "SELECT a FROM t EXCEPT ((SELECT a FROM u WHERE a > 2)) ORDER BY a FETCH FIRST 2 ROWS WITH TIES"),
      "SELECT a FROM (SELECT a, rank() OVER (ORDER BY a NULLS LAST) AS r FROM " +
        "(SELECT a FROM t EXCEPT SELECT a FROM u WHERE a > 2)) WHERE r <= 2")
    // backticked identifiers named like clause keywords neither end the
    // key region nor start one (r16 second review)
    assert(Dialect.pinSortNulls(
      "SELECT `limit` FROM t ORDER BY `limit` LIMIT 2") ===
      "SELECT `limit` FROM t ORDER BY `limit` NULLS LAST LIMIT 2")
    assert(Dialect.pinSortNulls(
      "SELECT row_number() OVER (ORDER BY `rows` DESC) FROM t") ===
      "SELECT row_number() OVER (ORDER BY `rows` DESC NULLS FIRST ) FROM t")
    // TOP/FETCH TIES over a TABLE named qualify is not the QUALIFY
    // clause — the guard checks the clause position (r16 second review)
    assert(Dialect.rewriteTsqlTop(
      "SELECT TOP 2 WITH TIES a FROM qualify ORDER BY a").contains("__wt"))
    // …and under the ANSI FETCH family (Postgres/Oracle/Trino — QUALIFY
    // is not a clause there) even the AMBIGUOUS bare-alias position
    // passes: `FROM t qualify` is a legal table alias (r17 ADVICE — the
    // guard's fail-fast was a false positive on QUALIFY-less dialects)
    assert(Dialect.rewriteFetchFirstWithTies(
      "SELECT a FROM t qualify ORDER BY a FETCH FIRST 2 ROWS WITH TIES")
      .contains("FROM t qualify"))
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 2 WITH TIES a FROM t QUALIFY rn = 1 ORDER BY a"))
    // …and EVERY top-level occurrence is classified (r16 third review:
    // a table named qualify must not mask a following real clause),
    // while a column named qualify in WHERE position passes
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 2 WITH TIES a FROM qualify QUALIFY rn = 1 ORDER BY a"))
    assert(Dialect.rewriteTsqlTop(
      "SELECT TOP 2 WITH TIES a FROM t WHERE qualify = 1 ORDER BY a").contains("__wt"))
    // an ORDER BY or LIMIT spelled inside a COMMENT is text, not a
    // clause (r16 third review: the site scan swallowed the real LIMIT
    // into a comment that merely mentioned ORDER BY)
    assert(Dialect.pinSortNulls(
      "SELECT x FROM t  -- TODO: add ORDER BY ts\nLIMIT 1") ===
      "SELECT x FROM t  -- TODO: add ORDER BY ts\nLIMIT 1")
    assert(Dialect.pinSortNulls(
      "SELECT x, y FROM t /* note: ORDER BY k */ LIMIT 1") ===
      "SELECT x, y FROM t /* note: ORDER BY k */ LIMIT 1")
    // a backticked identifier containing `--` is not a comment opener
    assert(Dialect.pinSortNulls(
      "SELECT `a--b` FROM t ORDER BY `a--b` LIMIT 1") ===
      "SELECT `a--b` FROM t ORDER BY `a--b` NULLS LAST LIMIT 1")
    // literals and comments lex in ONE pass (r16 fourth review): an
    // apostrophe inside a comment must not flip literal parity —
    // neither exposing a real literal's text to the pin nor hiding a
    // real ORDER BY inside a bogus literal span
    assert(Dialect.pinSortNulls(
      "SELECT x -- that's odd\n, 'ORDER BY y LIMIT 2' AS s FROM t") ===
      "SELECT x -- that's odd\n, 'ORDER BY y LIMIT 2' AS s FROM t")
    assert(Dialect.pinSortNulls(
      "SELECT x FROM t -- it's sorted\nORDER BY x LIMIT 1") ===
      "SELECT x FROM t -- it's sorted\nORDER BY x NULLS LAST LIMIT 1")
    // the TIES QUALIFY guard stays LOUD when a comment or GROUP BY ALL
    // precedes a real clause (fourth review: the comment's own */ and
    // the word ALL both slipped it into the identifier class)
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 2 WITH TIES a FROM t /* note */ QUALIFY rn = 1 ORDER BY a"))
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 2 WITH TIES a FROM t GROUP BY ALL QUALIFY rn = 1 ORDER BY a"))
    // …while a column named qualify after HAVING and arithmetic over
    // one keep passing
    assert(Dialect.rewriteTsqlTop(
      "SELECT TOP 2 WITH TIES a FROM t GROUP BY a HAVING qualify > 0 ORDER BY a")
      .contains("__wt"))
    // Snowflake's TOP takes a bare count — the T-SQL PERCENT/TIES
    // spellings get a NAMED error under its wiring instead of silently
    // executing with T-SQL semantics (r17, from ADVICE)
    assert(Dialect.rewriteTsqlTop(
      "SELECT TOP 2 a FROM t ORDER BY a", None, allowPercentTies = false)
      .contains("LIMIT 2"))
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 2 PERCENT a FROM t ORDER BY a", None, allowPercentTies = false))
    intercept[UnsupportedError](Dialect.rewriteTsqlTop(
      "SELECT TOP 2 WITH TIES a FROM t ORDER BY a", None, allowPercentTies = false))

    // WITHIN GROUP spelling (r14, Snowflake) converts to the inline form
    // and composes with the null-VALUE-skipping variant
    assert(withinGroupArrayAgg(
      "SELECT ARRAY_AGG(x) WITHIN GROUP (ORDER BY k DESC) FROM t") ===
      "SELECT ARRAY_AGG(x ORDER BY k DESC) FROM t")
    assert(withinGroupArrayAgg(
      "SELECT array_agg(x) FROM t") === "SELECT array_agg(x) FROM t")
    assert(withinGroupArrayAgg(
      "SELECT listagg(x, ',') WITHIN GROUP (ORDER BY k) FROM t") ===
      "SELECT listagg(x, ',') WITHIN GROUP (ORDER BY k) FROM t")
    intercept[UnsupportedError](withinGroupArrayAgg(
      "SELECT array_agg(x) WITHIN GROUP (k) FROM t"))
    assert(pgArrayAgg(
      "SELECT array_agg(x ORDER BY k) FROM t",
      descNullsLast = false, skipNullValues = true) ===
      "SELECT transform(sort_array(collect_list(" +
        "CASE WHEN (x) IS NULL THEN NULL ELSE named_struct(" +
        "'__n0', (k) IS NULL, '__o0', k, '__v', x) END), true), s -> s.__v) FROM t")
    // BigQuery IGNORE NULLS form (r14): nulls sort SMALLEST (ASC probe is
    // IS NOT NULL → null keys first) and null VALUES are dropped; LIMIT
    // truncates the sorted result via slice
    assert(Dialect.bqArrayAgg(
      "SELECT array_agg(x IGNORE NULLS ORDER BY k) FROM t") ===
      "SELECT transform(sort_array(collect_list(" +
        "CASE WHEN (x) IS NULL THEN NULL ELSE named_struct(" +
        "'__n0', (k) IS NOT NULL, '__o0', k, '__v', x) END), true), s -> s.__v) FROM t")
    // DESC under BigQuery: nulls (smallest) land LAST — probe stays
    // IS NOT NULL so the null group carries the smaller bool both ways
    assert(Dialect.bqArrayAgg(
      "SELECT array_agg(x IGNORE NULLS ORDER BY k DESC LIMIT 5) FROM t") ===
      "SELECT slice(transform(sort_array(collect_list(" +
        "CASE WHEN (x) IS NULL THEN NULL ELSE named_struct(" +
        "'__n0', (k) IS NOT NULL, '__o0', k, '__v', x) END), false), s -> s.__v), 1, 5) FROM t")
    // IGNORE NULLS without ORDER BY: collect_list drops nulls natively
    // (spelled as collect_list so the rescan can't re-guard it)
    assert(Dialect.bqArrayAgg("SELECT array_agg(x IGNORE NULLS) FROM t") ===
      "SELECT collect_list(x) FROM t")
    // bare array_agg gets the raise-on-NULL-element runtime guard
    // (BigQuery RAISES where collect_list would silently drop); ordered/
    // LIMIT forms WITHOUT IGNORE NULLS fail fast at rewrite time
    assert(Dialect.bqArrayAgg("SELECT array_agg(x) FROM t") ===
      "SELECT array_agg(CASE WHEN (x) IS NULL THEN raise_error(" +
        "'ARRAY_AGG: array cannot have a NULL element (BigQuery semantics); " +
        "use array_agg(x IGNORE NULLS)') ELSE x END) FROM t")
    // ordered BARE and RESPECT NULLS forms (r15): the raise-on-NULL-
    // element guard rides inside the struct collect as the value wrap
    val bqGuard = "CASE WHEN (x) IS NULL THEN raise_error(" +
      "'ARRAY_AGG: array cannot have a NULL element (BigQuery semantics); " +
      "use array_agg(x IGNORE NULLS)') ELSE x END"
    assert(Dialect.bqArrayAgg(
      "SELECT array_agg(x ORDER BY k) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        s"'__n0', (k) IS NOT NULL, '__o0', k, '__v', $bqGuard)), true), s -> s.__v) FROM t")
    assert(Dialect.bqArrayAgg(
      "SELECT array_agg(x RESPECT NULLS ORDER BY k) FROM t") ===
      "SELECT transform(sort_array(collect_list(named_struct(" +
        s"'__n0', (k) IS NOT NULL, '__o0', k, '__v', $bqGuard)), true), s -> s.__v) FROM t")
    // RESPECT NULLS without ORDER BY keeps the plain-form guard; a bare
    // LIMIT slices the (arbitrary-order) guarded collect
    assert(Dialect.bqArrayAgg("SELECT array_agg(x RESPECT NULLS) FROM t") ===
      s"SELECT array_agg($bqGuard) FROM t")
    assert(Dialect.bqArrayAgg("SELECT array_agg(x LIMIT 4) FROM t") ===
      s"SELECT slice(array_agg($bqGuard), 1, 4) FROM t")
    // DISTINCT x ORDER BY x (r15): collect_set of the sort struct — one
    // NULL element survives (struct equality is null-safe), sorted by
    // the dialect's placement; any OTHER distinct sort key fails fast
    assert(pgAgg("SELECT array_agg(DISTINCT x ORDER BY x) FROM t") ===
      "SELECT transform(sort_array(collect_set(named_struct(" +
        "'__n0', (x) IS NULL, '__o0', x, '__v', x)), true), s -> s.__v) FROM t")
    assert(duckAgg("SELECT array_agg(DISTINCT x ORDER BY x DESC) FROM t") ===
      "SELECT transform(sort_array(collect_set(named_struct(" +
        "'__n0', (x) IS NOT NULL, '__o0', x, '__v', x)), false), s -> s.__v) FROM t")
    intercept[UnsupportedError](pgAgg(
      "SELECT array_agg(DISTINCT x ORDER BY k) FROM t"))
    // MIXED directions (r15): array_sort with an explicit comparator —
    // per-key direction and null placement, value tie-break. Structural
    // checks (the comparator text is long); an unspecified direction is
    // ASC, so `a, b DESC` takes the same path
    val mixed = pgAgg("SELECT array_agg(x ORDER BY a ASC, b DESC) FROM t")
    assert(mixed.contains("array_sort(collect_list(named_struct('__o0', a, '__o1', b, '__v', x))"))
    assert(mixed.contains("(l, r) -> CASE WHEN"))
    // key a (ASC, Postgres nulls-largest → nulls last): l-null sorts AFTER
    assert(mixed.contains("WHEN l.__o0 IS NULL THEN 1 WHEN r.__o0 IS NULL THEN -1 " +
      "WHEN l.__o0 < r.__o0 THEN -1 WHEN l.__o0 > r.__o0 THEN 1"))
    // key b (DESC, Postgres → nulls FIRST): l-null sorts BEFORE, compare flipped
    assert(mixed.contains("WHEN l.__o1 IS NULL THEN -1 WHEN r.__o1 IS NULL THEN 1 " +
      "WHEN l.__o1 < r.__o1 THEN 1 WHEN l.__o1 > r.__o1 THEN -1"))
    assert(mixed.contains("s -> s.__v"))
    assert(pgAgg("SELECT array_agg(x ORDER BY a, b DESC) FROM t")
      .contains("array_sort"))
    // DuckDB polarity under mixed: DESC key keeps nulls LAST (l-null AFTER)
    assert(duckAgg("SELECT array_agg(x ORDER BY a DESC, b) FROM t")
      .contains("WHEN l.__o0 IS NULL THEN 1 WHEN r.__o0 IS NULL THEN -1 " +
        "WHEN l.__o0 < r.__o0 THEN 1 WHEN l.__o0 > r.__o0 THEN -1"))

    // bare keep-null wrap (r15 ADVICE): Postgres/Trino/DuckDB keep NULL
    // elements in array_agg where collect_list drops them
    assert(keepNullArrayAgg("SELECT array_agg(x) FROM t") ===
      "SELECT transform(collect_list(named_struct('__v', x)), s -> s.__v) FROM t")
    assert(keepNullArrayAgg("SELECT array_agg(DISTINCT x) FROM t") ===
      "SELECT transform(collect_set(named_struct('__v', x)), s -> s.__v) FROM t")
    // a trailing OVER composes by wrapping transform AROUND the window
    assert(keepNullArrayAgg(
      "SELECT array_agg(x) OVER (PARTITION BY g) FROM t") ===
      "SELECT transform(collect_list(named_struct('__v', x)) " +
        "OVER (PARTITION BY g), s -> s.__v) FROM t")
    // an implicit alias starting with "over" stays an alias (r15 review
    // fix: word-bounded OVER detection, shared with the FILTER rewrite)
    assert(keepNullArrayAgg(
      "SELECT array_agg(x) overall FROM t GROUP BY g") ===
      "SELECT transform(collect_list(named_struct('__v', x)), s -> s.__v) " +
        "overall FROM t GROUP BY g")
    // already-exact forms are left alone: the FILTER wrap's '__f' marker,
    // a raise_error guard, and ordered text (the ordered rewrite's job)
    assert(keepNullArrayAgg(
      "transform(array_agg(CASE WHEN b THEN named_struct('__f', s) END), s -> s.__f)") ===
      "transform(array_agg(CASE WHEN b THEN named_struct('__f', s) END), s -> s.__f)")
    assert(keepNullArrayAgg("SELECT array_agg(x ORDER BY k) FROM t") ===
      "SELECT array_agg(x ORDER BY k) FROM t")
    assert(keepNullArrayAgg("SELECT 'array_agg(x)' AS s FROM t") ===
      "SELECT 'array_agg(x)' AS s FROM t")

    // Trino TRY → the try_ family; unshimmed shapes fail fast
    assert(Dialect.trinoTry("TRY(CAST(x AS INTEGER))") ===
      "try_cast(x AS INTEGER)")
    assert(Dialect.trinoTry("TRY(element_at(a, 5))") ===
      "try_element_at(a, 5)")
    assert(Dialect.trinoTry("TRY(a / b)") === "try_divide(a, b)")
    assert(Dialect.trinoTry("TRY(x % (y % 3))") === "try_mod(x, (y % 3))")
    // nested parens shield inner operators from the top-level split
    assert(Dialect.trinoTry("TRY((a + b) / f(c, d))") ===
      "try_divide((a + b), f(c, d))")
    intercept[UnsupportedError](Dialect.trinoTry("TRY(a + b)"))
    intercept[UnsupportedError](Dialect.trinoTry("TRY(a / b / c)"))
    // try_cast output is not re-matched (no infinite loop, no double rewrite)
    assert(Dialect.trinoTry("try_cast(x AS INT)") === "try_cast(x AS INT)")

    // generate_series table function: uncorrelated FROM → explode subquery,
    // correlated comma form → LATERAL VIEW (implicit-lateral semantics)
    assert(Dialect.rewriteGenerateSeriesTable(
      "SELECT g.i FROM generate_series(1, 5) AS g(i)") ===
      "SELECT g.i FROM (SELECT explode(sequence(1, 5)) AS i) g")
    assert(Dialect.rewriteGenerateSeriesTable(
      "SELECT d FROM t, generate_series(0, t.n) AS gs(d)") ===
      "SELECT d FROM t LATERAL VIEW explode(sequence(0, t.n)) gs AS d")
    // bare alias names the column; the generator alias is made distinct
    assert(Dialect.rewriteGenerateSeriesTable(
      "SELECT g FROM t CROSS JOIN generate_series(1, 3) g") ===
      "SELECT g FROM t LATERAL VIEW explode(sequence(1, 3)) __gs_g AS g")
    // scalar-position generate_series is untouched (no FROM/comma joiner)
    assert(Dialect.rewriteGenerateSeriesTable(
      "SELECT len(generate_series(1, 3)) AS n") ===
      "SELECT len(generate_series(1, 3)) AS n")
    intercept[UnsupportedError](Dialect.rewriteGenerateSeriesTable(
      "SELECT 1 FROM generate_series(1, 2, 3, 4) g"))
    intercept[UnsupportedError](Dialect.rewriteGenerateSeriesTable(
      "SELECT 1 FROM generate_series(1, 5) WHERE 1 = 1")) // no alias

    // ClickHouse ARRAY JOIN clause → LATERAL VIEW; LEFT keeps empties
    assert(Dialect.rewriteChArrayJoin(
      "SELECT x FROM t ARRAY JOIN splitByChar('-', s) AS x WHERE k = 1") ===
      "SELECT x FROM t LATERAL VIEW explode(splitByChar('-', s)) __aj_x AS x WHERE k = 1")
    assert(Dialect.rewriteChArrayJoin(
      "SELECT x FROM t LEFT ARRAY JOIN arr AS x") ===
      "SELECT x FROM t LATERAL VIEW OUTER explode(arr) __aj_x AS x")
    // a CAST's inner AS never terminates the array expression
    assert(Dialect.rewriteChArrayJoin(
      "SELECT x FROM t ARRAY JOIN f(CAST(s AS String)) AS x") ===
      "SELECT x FROM t LATERAL VIEW explode(f(CAST(s AS String))) __aj_x AS x")
    intercept[UnsupportedError](Dialect.rewriteChArrayJoin(
      "SELECT arr FROM t ARRAY JOIN arr WHERE k = 1")) // bare in-place form

    // T-SQL CROSS/OUTER APPLY STRING_SPLIT → LATERAL VIEW … AS value
    assert(Dialect.tsqlApply(identity)(
      "SELECT t.value FROM o CROSS APPLY STRING_SPLIT(p, '-') AS t WHERE k = 1") ===
      "SELECT t.value FROM o LATERAL VIEW explode(string_split(p, '-')) t AS value WHERE k = 1")
    assert(Dialect.tsqlApply(identity)(
      "SELECT value FROM o OUTER APPLY STRING_SPLIT(p, ',')") ===
      "SELECT value FROM o LATERAL VIEW OUTER explode(string_split(p, ',')) __apply AS value")

    // Snowflake TRY_TO_* → try_cast; format args fail fast
    assert(Dialect.snowTryTo("TRY_TO_NUMBER(x)") ===
      "try_cast(x AS DECIMAL(38, 0))")
    assert(Dialect.snowTryTo("TRY_TO_NUMBER(x, 8, 2)") ===
      "try_cast(x AS DECIMAL(8, 2))")
    assert(Dialect.snowTryTo("TRY_TO_DOUBLE(x)") === "try_cast(x AS DOUBLE)")
    assert(Dialect.snowTryTo("TRY_TO_DATE(x)") === "try_cast(x AS DATE)")
    assert(Dialect.snowTryTo("TRY_TO_BOOLEAN(x)") === "try_cast(x AS BOOLEAN)")
    intercept[UnsupportedError](Dialect.snowTryTo("TRY_TO_DATE(x, 'YYYY')"))

    // ARRAY[…] literal → array(…); nests inside-out; subscripts untouched
    assert(Dialect.rewriteArrayLiteral("SELECT ARRAY[1, 2, 3]") ===
      "SELECT array(1, 2, 3)")
    assert(Dialect.rewriteArrayLiteral(
      "SELECT ARRAY[ARRAY[1, 2], ARRAY[f(x)]][1]") ===
      "SELECT array(array(1, 2), array(f(x)))[1]")
    assert(Dialect.rewriteArrayLiteral("SELECT ARRAY[]") ===
      "SELECT array()")
    assert(Dialect.rewriteArrayLiteral("SELECT arr[1] FROM t") ===
      "SELECT arr[1] FROM t")
    assert(Dialect.rewriteArrayLiteral("SELECT 'ARRAY[1]' FROM t") ===
      "SELECT 'ARRAY[1]' FROM t")
  }

  test("druid: TIME_ function family, DIV, aliases") {
    assert(Dialect.druidTime("TIME_FLOOR(ts, 'PT1H')") ===
      "date_trunc('HOUR', CAST(ts AS TIMESTAMP))")
    assert(Dialect.druidTime("TIME_FLOOR(ts, 'P3M')") ===
      "date_trunc('QUARTER', CAST(ts AS TIMESTAMP))")
    intercept[UnsupportedError](Dialect.druidTime("TIME_FLOOR(ts, 'PT15M')"))
    assert(Dialect.druidTime("TIME_CEIL(ts, 'P1D')").contains(
      "timestampadd(DAY, 1, date_trunc('DAY', CAST(ts AS TIMESTAMP)))"))
    assert(Dialect.druidTime("TIME_SHIFT(ts, 'P2D', 3)") ===
      "timestampadd(DAY, (2 * CAST(3 AS INT)), CAST(ts AS TIMESTAMP))")
    assert(Dialect.druidTime("TIME_SHIFT(ts, 'PT1H', -3)") ===
      "timestampadd(HOUR, (1 * CAST(-3 AS INT)), CAST(ts AS TIMESTAMP))")
    assert(Dialect.druidTime("TIME_EXTRACT(ts, 'HOUR')") ===
      "extract(HOUR FROM CAST(ts AS TIMESTAMP))")
    // ISO DOW re-base: Spark dayofweek is Sunday=1, Druid is Monday=1
    assert(Dialect.druidTime("TIME_EXTRACT(ts, 'DOW')") ===
      "(((dayofweek(CAST(ts AS TIMESTAMP)) + 5) % 7) + 1)")
    assert(Dialect.druidTime("TIME_EXTRACT(ts, 'EPOCH')") ===
      "CAST(CAST(ts AS TIMESTAMP) AS BIGINT)")
    assert(Dialect.druidTime("MILLIS_TO_TIMESTAMP(x)") ===
      "timestamp_millis(CAST(x AS BIGINT))")
    assert(Dialect.druidTime("TIMESTAMP_TO_MILLIS(ts)") ===
      "unix_millis(CAST(ts AS TIMESTAMP))")
    // nested round-trip rewrites inside-out in one pass
    assert(Dialect.druidTime("MILLIS_TO_TIMESTAMP(TIMESTAMP_TO_MILLIS(ts))") ===
      "timestamp_millis(CAST(unix_millis(CAST(ts AS TIMESTAMP)) AS BIGINT))")
    assert(Dialect.druidDiv("DIV(a, 7)") ===
      "(CAST(a AS BIGINT) DIV CAST(7 AS BIGINT))")
    intercept[UnsupportedError](Dialect.druidDiv("DIV(a)"))
    val spark: org.apache.spark.sql.SparkSession = null
    // trigger tokens inside literals are never rewritten
    assert(Dialect.DruidIsh.rewrite(spark,
      "SELECT 'TIME_FLOOR(x, ''P1D'')' AS s, TIME_EXTRACT(ts, 'DOY') AS d FROM t") ===
      "SELECT 'TIME_FLOOR(x, ''P1D'')' AS s, dayofyear(CAST(ts AS TIMESTAMP)) AS d FROM t")
    assert(Dialect.forName("druid") === Dialect.DruidIsh)
    assert(Dialect.DruidIsh.nameFold === Dialect.NameFold.Sensitive)
    assert(Dialect.forName("singlestore") === Dialect.MySqlish)
    assert(Dialect.forName("memsql") === Dialect.MySqlish)
  }

  test("star forms rewrite without a session and return their twins' rows") {
    initLog()
    import spark.implicits._
    val t = Seq((1L, "x", Some(10L)), (2L, "x", Some(30L)), (3L, "y", Some(30L)),
      (4L, "y", None), (5L, "z", Some(20L))).toDF("k", "g", "v")
    for ((d, sql, twin) <- Seq(
        (Dialect.Snowflakeish,
          "SELECT * FROM t QUALIFY row_number() OVER (PARTITION BY g ORDER BY k DESC) = 1",
          "SELECT * EXCEPT (rn) FROM (SELECT *, row_number() OVER (PARTITION BY g ORDER BY k DESC) AS rn " +
            "FROM t) WHERE rn = 1"),
        (Dialect.Postgresish, "SELECT * FROM t ORDER BY v DESC FETCH FIRST 2 ROWS WITH TIES",
          "SELECT * EXCEPT (r) FROM (SELECT *, rank() OVER (ORDER BY v DESC NULLS FIRST) AS r " +
            "FROM t) WHERE r <= 2"),
        (Dialect.DuckDbish, "SELECT DISTINCT ON (g) * FROM t ORDER BY g, v DESC",
          "SELECT * EXCEPT (rn) FROM (SELECT *, row_number() OVER (PARTITION BY g " +
            "ORDER BY v DESC NULLS LAST) AS rn FROM t) WHERE rn = 1"),
        (Dialect.ClickHouseIsh, "SELECT * FROM t ORDER BY v LIMIT 1 BY g",
          "SELECT * EXCEPT (rn) FROM (SELECT *, row_number() OVER (PARTITION BY g " +
            "ORDER BY v NULLS LAST) AS rn FROM t) WHERE rn = 1"),
        (Dialect.DuckDbish, "SELECT * REPLACE (v * 2 AS v) FROM (SELECT k, g, v FROM t WHERE k > 1) s",
          "SELECT k, g, v * 2 AS v FROM t WHERE k > 1"))) {
      assert(d.rewrite(null, sql).nonEmpty, s"$d: $sql")
      val out = Engine.execute(spark, sql, Map("t" -> t), d)
      assert(out.columns.toSeq === spark.sql(twin).columns.toSeq, s"$d: $sql")
      assert(out.collect().map(_.toString).sorted.toSeq ===
        spark.sql(twin).collect().map(_.toString).sorted.toSeq, s"$d: $sql")
    }
  }

  test("* REPLACE trigger requires select-list star position") {
    // multiplication by the replace() STRING FUNCTION must pass through
    // untouched — the rewriter never needs the session when it does not
    // fire, so null proves the no-op
    val mul = "SELECT price * replace(name, 'a', 'b') AS x FROM t"
    assert(Dialect.rewriteStarReplace(mul) === mul)
    val mulParen = "SELECT (qty * REPLACE(s, 'x', 'y')) AS x FROM t"
    assert(Dialect.rewriteStarReplace(mulParen) === mulParen)
    // literal trigger text stays untouched too
    val lit = "SELECT '* REPLACE (v AS v)' AS s FROM t"
    assert(Dialect.rewriteStarReplace(lit) === lit)
    // a qualified star whose QUALIFIER is not in select-list position is
    // still multiplication: `price * q.* REPLACE…` cannot arise, but
    // `x.y * REPLACE(s, 'a', 'b')` (qualified COLUMN times the string
    // function) must stay arithmetic — the char before `.y`'s dot-chain
    // is the qualifier `x`, whose own context (`SELECT a,`? no — after
    // `=`) is not star position
    val qualMul = "SELECT k FROM t WHERE v = x.y * REPLACE(s, 'a', 'b')"
    assert(Dialect.rewriteStarReplace(qualMul) === qualMul)
  }

  test("Trino FILTER reads a renamed aggregate under its Spark name") {
    // approx_distinct is Trino's approx_count_distinct
    sameRows(Dialect.Trinoish.rewrite(spark,
        "SELECT g, approx_distinct(v) FILTER (WHERE k > 1) AS n FROM t GROUP BY g"),
      "SELECT g, approx_count_distinct(v) FILTER (WHERE k > 1) AS n FROM t GROUP BY g")
    // arbitrary is any_value, which has no null-exact FILTER rewrite
    val e = intercept[graft.UnsupportedError](Dialect.Trinoish.rewrite(spark,
      "SELECT arbitrary(v) FILTER (WHERE k > 1) AS a FROM t"))
    assert(e.getMessage.contains("FILTER on any_value is outside the shimmed surface"))
  }

  test("aggregate FILTER (WHERE …) clause rewrite") {
    assert(Dialect.rewriteAggFilter("SELECT COUNT(*) FILTER (WHERE x > 1) FROM t") ===
      "SELECT count_if(x > 1) FROM t")
    assert(Dialect.rewriteAggFilter("SUM(v) FILTER (WHERE s = 'F')") ===
      "SUM(CASE WHEN s = 'F' THEN v END)")
    assert(Dialect.rewriteAggFilter("COUNT(DISTINCT s) FILTER (WHERE k % 3 = 0)") ===
      "COUNT(DISTINCT CASE WHEN k % 3 = 0 THEN s END)")
    // the separator argument stays a separator
    assert(Dialect.rewriteAggFilter("string_agg(s, ',') FILTER (WHERE b)") ===
      "string_agg(CASE WHEN b THEN s END, ',')")
    // two-column correlation wraps EVERY argument (row-level filter)
    assert(Dialect.rewriteAggFilter("corr(x, y) FILTER (WHERE b)") ===
      "corr(CASE WHEN b THEN x END, CASE WHEN b THEN y END)")
    // grouped array_agg takes the STRUCT wrap (r14): a matching row's
    // NULL element survives, a filtered-out row's null struct drops
    assert(Dialect.rewriteAggFilter("array_agg(s) FILTER (WHERE b)") ===
      "transform(array_agg(CASE WHEN b THEN named_struct('__f', s) END), s -> s.__f)")
    assert(Dialect.rewriteAggFilter("collect_set(DISTINCT s) FILTER (WHERE b)") ===
      "transform(collect_set(DISTINCT CASE WHEN b THEN named_struct('__f', s) END), " +
        "s -> s.__f)")
    // windowed position (r15): the SAME struct wrap, with transform
    // composed OVER the window expression — a matching row's NULL
    // element survives here too (the r14 narrowing is gone)
    assert(Dialect.rewriteAggFilter("array_agg(s) FILTER (WHERE b) OVER (PARTITION BY g)") ===
      "transform(array_agg(CASE WHEN b THEN named_struct('__f', s) END) " +
        "OVER (PARTITION BY g), s -> s.__f)")
    // …and over a NAMED window reference
    assert(Dialect.rewriteAggFilter("collect_list(s) FILTER (WHERE b) OVER w ") ===
      "transform(collect_list(CASE WHEN b THEN named_struct('__f', s) END) " +
        "OVER w, s -> s.__f) ")
    // an implicit alias STARTING with "over" is NOT a window reference
    // (r15 review fix: the OVER match is word-bounded)
    assert(Dialect.rewriteAggFilter(
      "SELECT array_agg(s) FILTER (WHERE b) overall FROM t GROUP BY g") ===
      "SELECT transform(array_agg(CASE WHEN b THEN named_struct('__f', s) END), " +
        "s -> s.__f) overall FROM t GROUP BY g")
    // the inline-ORDER-BY form fails fast with a named error (r14):
    // the keep-nulls ordered rewrite would surface filtered rows as NULLs
    intercept[UnsupportedError](Dialect.rewriteAggFilter(
      "array_agg(s ORDER BY k) FILTER (WHERE b)"))
    // windowed form: the trailing OVER composes untouched
    assert(Dialect.rewriteAggFilter("SUM(v) FILTER (WHERE b) OVER (PARTITION BY g)") ===
      "SUM(CASE WHEN b THEN v END) OVER (PARTITION BY g)")
    // nested call inside the aggregate argument: backward scan stays balanced
    assert(Dialect.rewriteAggFilter("sum(abs(v)) FILTER (WHERE b)") ===
      "sum(CASE WHEN b THEN abs(v) END)")
    // trigger text inside a string literal is never rewritten
    assert(Dialect.rewriteAggFilter("SELECT ') FILTER (WHERE x' AS s FROM t") ===
      "SELECT ') FILTER (WHERE x' AS s FROM t")
    // value-plus-knob family: only the VALUE argument is wrapped — the
    // accuracy/percentage knobs are per-call constants
    assert(Dialect.rewriteAggFilter("approx_percentile(v, 0.5) FILTER (WHERE b)") ===
      "approx_percentile(CASE WHEN b THEN v END, 0.5)")
    assert(Dialect.rewriteAggFilter("approx_count_distinct(v, 0.02) FILTER (WHERE b)") ===
      "approx_count_distinct(CASE WHEN b THEN v END, 0.02)")
    assert(Dialect.rewriteAggFilter("percentile_approx(v, 0.9, 1000) FILTER (WHERE b)") ===
      "percentile_approx(CASE WHEN b THEN v END, 0.9, 1000)")
    // fail-fast: no WHERE, non-call paren, unknown multi-argument aggregate
    intercept[UnsupportedError](Dialect.rewriteAggFilter("SUM(v) FILTER (x > 1)"))
    intercept[UnsupportedError](Dialect.rewriteAggFilter("(a + b) FILTER (WHERE c)"))
    intercept[UnsupportedError](
      Dialect.rewriteAggFilter("max_by(v, w) FILTER (WHERE b)"))
    // fail-fast: first/last/any_value default to ignoreNulls=false in
    // Spark, so the CASE wrap would silently return a non-matching NULL
    intercept[UnsupportedError](Dialect.rewriteAggFilter("first(v) FILTER (WHERE b)"))
    intercept[UnsupportedError](Dialect.rewriteAggFilter("LAST(v) FILTER (WHERE b)"))
    intercept[UnsupportedError](
      Dialect.rewriteAggFilter("any_value(v) FILTER (WHERE b)"))
    // fail-fast: single-arg aggregates outside the null-skipping
    // allowlist never get a silent bet on their NULL behavior
    intercept[UnsupportedError](
      Dialect.rewriteAggFilter("some_udaf(v) FILTER (WHERE b)"))
  }

  /** (lex calls, characters lexed) on this thread while `f` runs. */
  private def lexed[A](f: => A): (A, Long, Long) = {
    val (c0, n0) = Dialect.lexCount
    val a = f
    val (c1, n1) = Dialect.lexCount
    (a, c1 - c0, n1 - n0)
  }

  test("one rewrite lexes at most 8 times its text in every dialect") {
    // each statement touches its dialect's call entries, its renames, a
    // clause construct and, where the dialect has one, a statement-level
    // construct
    val stmts = Seq(
      Dialect.DuckDbish -> ("SELECT strftime(d, '%Y'), string_split(s, ','), epoch(ts), len(s), " +
        "list_value(1, 2), array_agg(x ORDER BY k), list(x) FILTER (WHERE x > 1), a // b, " +
        "CAST(s AS VARCHAR) FROM t, generate_series(1, 3) AS g " +
        "QUALIFY row_number() OVER (ORDER BY k) = 1"),
      Dialect.Trinoish -> ("SELECT date_format(ts, '%Y'), day_of_week(d), TRY(a / b), " +
        "approx_distinct(x), array_agg(x ORDER BY k), ARRAY[1, 2], sum(x) FILTER (WHERE c) " +
        "FROM t CROSS JOIN UNNEST(arr) AS u(v) ORDER BY k FETCH FIRST 2 ROWS WITH TIES"),
      Dialect.Snowflakeish -> ("SELECT TOP 5 IFF(a, 1, 2), TO_CHAR(d, 'YYYY'), TRY_TO_NUMBER(s), " +
        "DATEADD(day, 1, d), DATEDIFF(month, a, b), DAYNAME(d), ZEROIFNULL(x), TO_VARCHAR(x), " +
        "LEN(s), ARRAY_AGG(x) WITHIN GROUP (ORDER BY k) FROM t, LATERAL FLATTEN(input => t.a) f " +
        "QUALIFY row_number() OVER (ORDER BY k) = 1"),
      Dialect.BigQueryish -> ("SELECT SAFE_CAST(x AS INT64), FORMAT_DATE('%Y', d), " +
        "DATE_DIFF(a, b, DAY), DATE_ADD(d, INTERVAL 1 DAY), SPLIT(s, ','), GENERATE_ARRAY(1, 3), " +
        "ARRAY_AGG(x IGNORE NULLS ORDER BY k), a[OFFSET(0)] FROM t, UNNEST(arr) AS v " +
        "QUALIFY row_number() OVER (ORDER BY k) = 1"),
      Dialect.MySqlish -> ("SELECT GROUP_CONCAT(x SEPARATOR ';'), DATE_FORMAT(d, '%Y'), " +
        "DAYNAME(d), LOCATE('a', s), UCASE(s), \"str\" FROM t LIMIT 2, 3"),
      Dialect.Postgresish -> ("SELECT DISTINCT ON (g) g, TO_CHAR(d, 'YYYY'), EXTRACT(EPOCH FROM ts), " +
        "string_agg(s, ',' ORDER BY k), array_agg(x ORDER BY k), string_to_array(s, ','), " +
        "x::TEXT, s ~ 'a', ARRAY[1], sum(x) FILTER (WHERE c) FROM t, UNNEST(t.a) AS u(v) " +
        "ORDER BY g, k"),
      Dialect.SqliteIsh -> ("SELECT strftime('%Y', d), date(d, '+1 days'), sum(x) FILTER (WHERE c), " +
        "\"c\" FROM t WHERE s GLOB 'a*'"),
      Dialect.OracleIsh -> ("SELECT * FROM (SELECT DECODE(a, 1, 'x', 'y') AS v, " +
        "TO_DATE(s, 'YYYY-MM-DD') AS e, TO_CHAR(d, 'YYYY') AS f, SYSDATE AS n FROM t " +
        "ORDER BY a FETCH FIRST 2 ROWS WITH TIES) WHERE ROWNUM <= 3"),
      Dialect.TsqlIsh -> ("SELECT TOP 3 [a], CONVERT(INT, x), DATEADD(day, 1, d), " +
        "DATEDIFF(day, a, b), DATEPART(year, d), ISNULL(a, 0), LEN(s) FROM t " +
        "CROSS APPLY STRING_SPLIT(s, ',') AS p ORDER BY a"),
      Dialect.RedshiftIsh -> ("SELECT DECODE(a, 1, 'x'), TO_DATE(s, 'YYYY'), TO_CHAR(d, 'YYYY'), " +
        "s ~ 'a', DATEADD(day, 1, d), DATEDIFF(day, a, b), CAST(s AS VARCHAR), GETDATE(), " +
        "\"c\" FROM t QUALIFY row_number() OVER (ORDER BY k) = 1"),
      Dialect.TeradataIsh -> ("SEL TOP 3 a MOD 2 AS m, b ** 2 AS p, ZEROIFNULL(x) AS z, " +
        "INDEX(s, 'a') AS i FROM t WHERE a GT 1 QUALIFY row_number() OVER (ORDER BY k) = 1 " +
        "ORDER BY a"),
      Dialect.ClickHouseIsh -> ("SELECT countIf(x > 1), multiIf(a, 1, b, 2, 3), toYear(d), " +
        "formatDateTime(d, '%Y'), arrayMap(x -> x, arr), splitByChar(',', s), uniq(x), " +
        "empty(s), position(s, 'a'), has(arr, 1), g FROM t ARRAY JOIN arr AS e " +
        "ORDER BY k LIMIT 2 BY g"),
      Dialect.TableauIsh -> ("SELECT IF a THEN 1 ELSEIF b THEN 2 END, IIF(a, 1, 2), COUNTD(x), " +
        "DATEADD('day', 1, d), DATEDIFF('day', a, b), DATEPART('year', d), " +
        "DATETRUNC('month', d), DATENAME('month', d), SPLIT(s, ',', 1), MID(s, 1, 2), [f] FROM t"),
      Dialect.ExasolIsh -> ("SELECT ADD_DAYS(d, 1), DAYS_BETWEEN(a, b), TRUNC(d, 'MM'), " +
        "DECODE(a, 1, 2), TO_DATE(s, 'YYYY'), TO_CHAR(d, 'YYYY'), ZEROIFNULL(x), \"c\" FROM t"),
      Dialect.DruidIsh -> ("SELECT TIME_FLOOR(ts, 'PT1H'), TIME_EXTRACT(ts, 'DOW'), DIV(a, b), " +
        "APPROX_COUNT_DISTINCT_DS_HLL(x), \"c\" FROM t"))
    assert(stmts.map(_._1).toSet.size === 15)
    stmts.foreach { case (d, sql) =>
      val (out, calls, chars) = lexed(d.rewrite(null, sql))
      assert(out !== sql, s"$d rewrote nothing")
      val bound = 8L * math.max(sql.length, out.length)
      assert(chars <= bound, s"$d lexed $chars characters in $calls calls; bound $bound\n$sql\n$out")
    }
  }

  test("pinSortNulls lexes the 3,200-item WITHIN GROUP statement once") {
    val sql = (0 until 3200).map(i => s"ARRAY_AGG(x) WITHIN GROUP (ORDER BY y) AS x$i")
      .mkString("SELECT ", ", ", " FROM t")
    val out = Dialect.Snowflakeish.rewrite(null, sql)
    val (pinned, calls, chars) = lexed(Dialect.pinSortNulls(out))
    assert(pinned === out)
    assert((calls, chars) === ((1L, out.length.toLong)))
  }

  test("order: DuckDB list() reaches FILTER and keep-null as array_agg") {
    // a FILTER site covers its aggregate's call: the list → array_agg
    // rename has to reach the FILTER clause, or the collect-family wrap
    // is lost (a plain CASE wrap keeps the filtered-out rows as NULLs)
    val out = Dialect.DuckDbish.rewrite(null,
      "SELECT list(x) FILTER (WHERE k > 2) AS l, list(y) AS m FROM t")
    assert(out === "SELECT transform(array_agg(CASE WHEN k > 2 THEN named_struct('__f', x) END), " +
      "s -> s.__f) AS l, transform(collect_list(named_struct('__v', y)), s -> s.__v) AS m FROM t")
  }

  test("order: Postgres FILTER applies the string_agg entry to its call") {
    assert(Dialect.Postgresish.rewrite(null,
      "SELECT string_agg(s, ',' ORDER BY k) FILTER (WHERE k > 1) AS l FROM t") ===
      "SELECT listagg(CASE WHEN k > 1 THEN s END, ',') WITHIN GROUP (ORDER BY k NULLS LAST ) AS l FROM t")
  }

  test("order: Snowflake to_char renames into the to_varchar entry") {
    assert(Dialect.Snowflakeish.rewrite(null, "SELECT TO_CHAR(d, 'YYYY-MM'), TO_CHAR(k) FROM t") ===
      "SELECT date_format(d, 'yyyy-MM'), CAST(k AS STRING) FROM t")
  }

  test("order: T-SQL APPLY applies the STRING_SPLIT entry to its call") {
    assert(Dialect.TsqlIsh.rewrite(null,
      "SELECT p.value FROM t CROSS APPLY STRING_SPLIT(s, ',') AS p") ===
      "SELECT p.value FROM t LATERAL VIEW explode(split(s, '\\\\Q,\\\\E')) p AS value")
  }

  test("order: Postgres ARRAY[…] inside UNNEST is rewritten before the UNNEST") {
    assert(Dialect.Postgresish.rewrite(null,
      "SELECT x, y FROM t, UNNEST(ARRAY[1, 2], ARRAY[k]) AS u(x, y)") ===
      "SELECT x, y FROM t LATERAL VIEW inline(transform(array_repeat(0, " +
        "greatest(size(array(1, 2)), size(array(k)))), (__unv, __uni) -> " +
        "struct(try_element_at(array(1, 2), __uni + 1) AS x, " +
        "try_element_at(array(k), __uni + 1) AS y))) u AS x, y")
  }

  test("order: Snowflake FLATTEN sees the table's renames in its input") {
    // OBJECT_CONSTRUCT is renamed named_struct first, which OBJECT mode
    // swaps for map(); the metadata column THIS substitutes the
    // rewritten input
    assert(Dialect.Snowflakeish.rewrite(null,
      "SELECT f.key, f.this FROM t, LATERAL FLATTEN(input => OBJECT_CONSTRUCT('a', k), " +
        "mode => 'OBJECT') f") ===
      "SELECT f.key, (map('a', k)) FROM t LATERAL VIEW explode(map('a', k)) f AS key, value")
  }

  test("order: Teradata's table runs before TOP and QUALIFY") {
    // SEL must be SELECT before the TOP and QUALIFY scopes are parsed
    val out = Dialect.TeradataIsh.rewrite(null,
      "SEL TOP 2 k, v FROM t WHERE k GT 1 QUALIFY row_number() OVER (PARTITION BY g ORDER BY k) = 1 " +
        "ORDER BY k")
    sameRows(out, "SELECT k, v FROM (SELECT k, v, g, row_number() OVER (PARTITION BY g ORDER BY k) AS r " +
      "FROM t WHERE k > 1) WHERE r = 1 ORDER BY k LIMIT 2")
  }

  test("order: ClickHouse's table runs before LIMIT BY") {
    // the FROM body LIMIT BY keeps must not end in an ARRAY JOIN clause
    val out = Dialect.ClickHouseIsh.rewrite(null,
      "SELECT g, e FROM (SELECT g, array(k, v) AS arr FROM t) ARRAY JOIN arr AS e " +
        "ORDER BY e LIMIT 1 BY g")
    sameRows(out, "SELECT g, e FROM (SELECT g, e, row_number() OVER (PARTITION BY g " +
      "ORDER BY e NULLS LAST) AS r FROM (SELECT g, array(k, v) AS arr FROM t) " +
      "LATERAL VIEW explode(arr) x AS e) WHERE r <= 1")
  }

  test("order: T-SQL and Oracle tables run before the percent probes") {
    // the scale plan's leading-key type probe analyzes the key as the
    // table rewrote it: Spark has no CONVERT function and no SYSDATE
    fixtures
    val tsql = Dialect.TsqlIsh.rewrite(spark,
      "SELECT TOP 50 PERCENT k FROM t ORDER BY CONVERT(BIGINT, k)")
    assert(tsql.contains("approx_percentile"), tsql)
    sameRows(tsql, "SELECT k FROM t ORDER BY k LIMIT 3")
    val oracle = Dialect.OracleIsh.rewrite(spark, "SELECT k FROM t " +
      "ORDER BY CASE WHEN SYSDATE IS NULL THEN 0 ELSE k END FETCH FIRST 50 PERCENT ROWS ONLY")
    assert(oracle.contains("approx_percentile"), oracle)
    sameRows(oracle, "SELECT k FROM t ORDER BY k LIMIT 3")
  }

  test("date-part vocabulary: each dialect's names land in the canonical parts, conflicts kept apart") {
    val vocab = Seq("snowflake" -> Dialect.SnowParts, "tsql" -> Dialect.TsqlParts,
      "redshift" -> Dialect.RsParts, "bigquery" -> Dialect.BqParts, "tableau" -> Dialect.TableauParts)
    for ((name, v) <- vocab; (alias, part) <- v.aliases) {
      assert(Dialect.DateParts(part), s"$name: $alias -> $part")
      assert(v.aliases.get(part).contains(part), s"$name: $part does not name itself")
      assert(v(if (v.quoted) s"'$alias'" else alias, "f") === part)
    }
    // the maps disagree, which is why they stay per dialect
    assert(Dialect.TsqlParts("m", "DATEADD") === "month")
    assert(Dialect.RsParts("m", "DATEADD") === "minute")
    // T-SQL's y is day-of-year, not year
    intercept[UnsupportedError](Dialect.TsqlParts("y", "DATEADD"))
    assert(Dialect.SnowParts("y", "DATEADD") === "year")
    // Tableau takes quoted names only
    intercept[UnsupportedError](Dialect.TableauParts("month", "DATEADD"))
    assert(Dialect.TableauParts("'MONTH'", "DATEADD") === "month")
    intercept[UnsupportedError](Dialect.tableauDateAdd("DATEADD('weekday', 1, d)"))
    // BigQuery has no abbreviations; weeks roll Monday in Snowflake, Sunday elsewhere
    intercept[UnsupportedError](Dialect.BqParts("dd", "DATE_DIFF"))
    assert(vocab.map(_._2.weekAnchor) ===
      Seq("0001-01-01", "0001-01-07", "0001-01-07", "0001-01-07", "0001-01-07"))
  }
}

/** Row checks for the star REPLACE rewrite (`* REPLACE` → `|> SET`):
  * each rewrite returns the rows and column names of a hand-written
  * twin. The checks that need a schema (an unknown replaced or excluded
  * column) are Spark's analyzer's, so they surface from
  * [[Engine.execute]] as [[ExecuteError]]s.
  */
class QualifiedStarReplaceSpec extends SparkSpec {

  private def same(rewritten: String, twin: String): Unit = {
    def run(q: String) = {
      val df = spark.sql(q)
      (df.columns.toSeq, df.collect().map(_.toString).sorted.toSeq)
    }
    assert(run(rewritten) === run(twin), s"\nrewrite: $rewritten\ntwin:    $twin")
  }
  private def duck(sql: String) = Engine.execute(spark, sql, dialect = Dialect.DuckDbish)

  test("qualified star alias.* REPLACE resolves or fails loudly") {
    initLog()
    import spark.implicits._
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s")
      .createOrReplaceTempView("star_repl_t")
    // alias form
    same(Dialect.rewriteStarReplace(
      "SELECT t.* REPLACE (v * 2 AS v) FROM star_repl_t t ORDER BY k"),
      "SELECT `k`, (v * 2) AS `v`, `s` FROM star_repl_t t ORDER BY k")
    // bare table name as the qualifier (no alias declared)
    same(Dialect.rewriteStarReplace(
      "SELECT star_repl_t.* REPLACE (upper(s) AS s) FROM star_repl_t"),
      "SELECT `k`, `v`, (upper(s)) AS `s` FROM star_repl_t")
    // unresolvable qualifier names the construct in the error
    val err = intercept[UnsupportedError](Dialect.rewriteStarReplace(
      "SELECT zz.* REPLACE (v * 2 AS v) FROM star_repl_t t"))
    assert(err.getMessage.contains("qualified star zz.*"))
    // an ALIASED table's original name is not addressable (DuckDB binder
    // semantics) — fails loudly too
    val err2 = intercept[UnsupportedError](Dialect.rewriteStarReplace(
      "SELECT star_repl_t.* REPLACE (v * 2 AS v) FROM star_repl_t t"))
    assert(err2.getMessage.contains("does not resolve"))
    // unqualified star
    same(Dialect.rewriteStarReplace(
      "SELECT * REPLACE (v + 1 AS v) FROM star_repl_t"),
      "SELECT `k`, (v + 1) AS `v`, `s` FROM star_repl_t")
    // derived-table FROM: the replacement stays in position
    same(Dialect.rewriteStarReplace(
      "SELECT * REPLACE (v * 10 AS v) FROM (SELECT k, v FROM star_repl_t WHERE k = 1) d ORDER BY k"),
      "SELECT `k`, (v * 10) AS `v` " +
        "FROM (SELECT k, v FROM star_repl_t WHERE k = 1) d ORDER BY k")
    // qualified star over the derived table's alias
    same(Dialect.rewriteStarReplace(
      "SELECT d.* REPLACE (k + 1 AS k) FROM (SELECT k, s FROM star_repl_t) d"),
      "SELECT (k + 1) AS `k`, `s` FROM (SELECT k, s FROM star_repl_t) d")
    // qualifier that is not the derived alias fails loudly
    val err3 = intercept[UnsupportedError](Dialect.rewriteStarReplace(
      "SELECT zz.* REPLACE (k + 1 AS k) FROM (SELECT k FROM star_repl_t) d"))
    assert(err3.getMessage.contains("does not resolve"))
    // a JOIN after the derived table still fails loudly (the star would
    // cover both sides in DuckDB)
    intercept[UnsupportedError](Dialect.rewriteStarReplace(
      "SELECT * REPLACE (k + 1 AS k) FROM (SELECT k FROM star_repl_t) d " +
        "JOIN star_repl_t u ON d.k = u.k"))
    // a replacement naming a column the subquery lacks: Spark's analyzer
    intercept[ExecuteError](duck(
      "SELECT * REPLACE (v + 1 AS v) FROM (SELECT k FROM star_repl_t) d"))
    // a ')' inside a comment within the derived subquery does not end
    // the paren match early
    same(Dialect.rewriteStarReplace(
      "SELECT * REPLACE (v + 1 AS v) FROM (SELECT k, v /* ) */ FROM star_repl_t) d"),
      "SELECT `k`, (v + 1) AS `v` FROM (SELECT k, v /* ) */ FROM star_repl_t) d")
  }

  test("combined * EXCLUDE (…) REPLACE (…) drops first, replaces in position") {
    initLog()
    import spark.implicits._
    Seq((1L, 10L, "a", 5L), (2L, 20L, "b", 6L)).toDF("k", "v", "s", "w")
      .createOrReplaceTempView("star_exrep_t")
    // paren EXCLUDE list, then REPLACE over the KEPT columns
    same(Dialect.rewriteStarReplace(
      "SELECT * EXCLUDE (s, w) REPLACE (v * 2 AS v) FROM star_exrep_t"),
      "SELECT `k`, (v * 2) AS `v` FROM star_exrep_t")
    // bare single-column EXCLUDE spelling
    same(Dialect.rewriteStarReplace(
      "SELECT * EXCLUDE w REPLACE (upper(s) AS s) FROM star_exrep_t"),
      "SELECT `k`, `v`, (upper(s)) AS `s` FROM star_exrep_t")
    // the EXCEPT keyword spelling ([[rewriteExclude]]-normalized or
    // BigQuery-native) composes the same way
    same(Dialect.rewriteStarReplace(
      "SELECT * EXCEPT (s) REPLACE (v + 1 AS v) FROM star_exrep_t"),
      "SELECT `k`, (v + 1) AS `v`, `w` FROM star_exrep_t")
    // …and through the DuckDB chain end-to-end (rewriteExclude first)
    same(Dialect.DuckDbish.rewrite(spark,
      "SELECT * EXCLUDE (s, w) REPLACE (v * 2 AS v) FROM star_exrep_t", Map.empty),
      "SELECT `k`, (v * 2) AS `v` FROM star_exrep_t")
    // replacing an EXCLUDED column is a named error (DuckDB's own order:
    // the column is gone before REPLACE runs)
    assert(intercept[UnsupportedError](Dialect.rewriteStarReplace(
      "SELECT * EXCLUDE (v) REPLACE (v * 2 AS v) FROM star_exrep_t"))
      .getMessage.contains("EXCLUDE list already drops"))
    // excluding a column the relation lacks: Spark's analyzer
    intercept[ExecuteError](duck(
      "SELECT * EXCLUDE (zz) REPLACE (v * 2 AS v) FROM star_exrep_t"))
    // excluding EVERY column leaves the REPLACE target nowhere to bind
    intercept[ExecuteError](duck(
      "SELECT * EXCLUDE (k, v, s) REPLACE (w + 1 AS w) FROM " +
        "(SELECT k, v, s FROM star_exrep_t) d"))
    // the combined clause composes with a derived FROM
    same(Dialect.rewriteStarReplace(
      "SELECT * EXCLUDE (s) REPLACE (k + 1 AS k) FROM " +
        "(SELECT k, s, w FROM star_exrep_t) d"),
      "SELECT (k + 1) AS `k`, `w` FROM (SELECT k, s, w FROM star_exrep_t) d")
    // a twice-excluded column raises DuckDB's duplicate-entry binder
    // error instead of silently deduping
    assert(intercept[UnsupportedError](Dialect.rewriteStarReplace(
      "SELECT * EXCLUDE (s, s) REPLACE (v * 2 AS v) FROM star_exrep_t"))
      .getMessage.contains("more than once"))
    // an empty EXCLUDE list / blank entry raises (DuckDB syntax error)
    // instead of silently degrading to a plain * REPLACE
    assert(intercept[UnsupportedError](Dialect.rewriteStarReplace(
      "SELECT * EXCLUDE () REPLACE (v * 2 AS v) FROM star_exrep_t"))
      .getMessage.contains("empty entry"))
    intercept[UnsupportedError](Dialect.rewriteStarReplace(
      "SELECT * EXCLUDE (s,) REPLACE (v * 2 AS v) FROM star_exrep_t"))
    // comment opacity across the whole rewrite: a ')' inside a comment
    // in the REPLACE list, and a FROM inside a comment before the real
    // FROM, neither corrupts the rewrite
    same(Dialect.rewriteStarReplace(
      "SELECT * REPLACE (v + 1 /* ) */ AS v) FROM star_exrep_t"),
      "SELECT `k`, (v + 1 /* ) */) AS `v`, `s`, `w` FROM star_exrep_t")
    same(Dialect.rewriteStarReplace(
      "SELECT * REPLACE (v + 1 AS v) /* FROM zz */ FROM star_exrep_t"),
      "SELECT `k`, (v + 1) AS `v`, `s`, `w` /* FROM zz */ FROM star_exrep_t")
  }
}

/** Live-session composition matrix for the r19 arm-scoped TOP PERCENT
  * (VERDICT item 7): the success path resolves the arm's output names
  * from a schema-only analysis, so it needs a session — the no-session
  * and error paths are pinned in [[DialectPropertySpec]]. Every pick
  * below is value-deterministic (the rank orders by the arm's own
  * output columns).
  */
class ArmPercentSpec extends SparkSpec {

  test("arm-scoped TOP PERCENT composes with DISTINCT, hints, comments, paren arms") {
    initLog()
    import spark.implicits._
    val t = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "y")).toDF("k", "g")
    def rows(sql: String): Seq[(String, Long)] =
      Engine.execute(spark, sql, tables = Map("t" -> t),
        dialect = Dialect.forName("tsql"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // plain arm percent: ceil(4 · 50%) = 2, picked by (g, k) order
    assert(rows("SELECT TOP 50 PERCENT g, k FROM t UNION ALL " +
      "SELECT 'z', CAST(9 AS BIGINT)") ===
      Seq(("x", 1L), ("x", 2L), ("z", 9L)))
    // DISTINCT applies FIRST, then the percent cutoff on the distinct
    // output: ceil(2 · 50%) = 1 → the smaller ('x')
    assert(rows("SELECT DISTINCT TOP 50 PERCENT g, CAST(0 AS BIGINT) AS z FROM t " +
      "UNION ALL SELECT 'z', CAST(9 AS BIGINT)") ===
      Seq(("x", 0L), ("z", 9L)))
    // hint consumed with the TOP tokens re-emits SELECT-adjacent; a
    // comment cannot end the arm scope
    assert(rows("SELECT TOP 50 PERCENT /*+ REPARTITION(2) */ g, k FROM t " +
      "/* union */ UNION ALL SELECT 'z', CAST(9 AS BIGINT)") ===
      Seq(("x", 1L), ("x", 2L), ("z", 9L)))
    // last arm + trailing statement ORDER BY: the sort stays on the
    // COMBINED result; the arm's percent binds to its own rows
    assert(rows("SELECT g, k FROM t WHERE k = 1 UNION ALL " +
      "SELECT TOP 50 PERCENT g, k FROM t ORDER BY g, k") ===
      Seq(("x", 1L), ("x", 1L), ("x", 2L)))
    // a PARENTHESIZED percent arm keeps the r15 subquery path, where
    // the arm's own ORDER BY is legal and drives the rank
    assert(rows("(SELECT TOP 25 PERCENT g, k FROM t ORDER BY k DESC) " +
      "UNION ALL (SELECT 'z', CAST(0 AS BIGINT))") ===
      Seq(("y", 4L), ("z", 0L)))
  }
}
