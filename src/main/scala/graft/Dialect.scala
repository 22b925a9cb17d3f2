package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Input-dialect shim (SURVEY.md §7.4).
  *
  * The reference gets DuckDB/Presto/Snowflake/BigQuery compatibility from
  * sqlglot transpilation (reference: xorbits_sql/core.py:66,102,
  * README.md:31-32). There is no JVM sqlglot, so the shim is a documented
  * construct-level rewriter: Spark SQL already accepts most of the shared
  * ANSI surface natively (TRY_CAST, ILIKE, IS NOT DISTINCT FROM, `x DIV y`,
  * `||` concat, EXISTS higher-order functions, `==` equality, `expr::TYPE`
  * casts, `LIMIT ALL` — verified by probing), and the rewriter translates
  * the constructs it does not:
  *
  * [[Dialect.DuckDbish]]:
  *   - `"ident"` double-quoted identifiers → backtick-quoted
  *   - unsized `VARCHAR`/`TEXT` casts → STRING
  *   - `a // b` integer division → `a DIV b` (both truncate toward zero —
  *     measured against the oracle DuckDB and gated with negative operands)
  *   - `strftime(ts, '%Y-%m')` → `date_format(ts, 'yyyy-MM')` (C format
  *     codes translated to Java patterns; unknown codes raise)
  *   - `string_split(s, sep)` → `split(s, <regex-quoted sep>)` (DuckDB's
  *     separator is literal, Spark's is a regex — the shim \Q-quotes it)
  *   - function renames: len→length, list_contains→array_contains,
  *     list_value→array, list_sort→sort_array, list_distinct→array_distinct,
  *     array_length→size, regexp_matches→regexp_like, epoch→unix_timestamp
  *   - `READ_CSV('path' [, 'delimiter', 'd']) AS alias` table function
  *     (reference tests/test_tpc_h.py:47-52, executor.py:290-308); a
  *     declared schema for the alias wins over inference (executor.py:303-305)
  *   - aggregate `FILTER (WHERE …)` → conditional aggregates (shared with
  *     Postgres/SQLite/Trino — see [[rewriteAggFilter]]); `GROUP BY ALL` /
  *     `ORDER BY ALL` are Spark-native and pass through
  *
  * [[Dialect.Trinoish]] (Presto/Trino names for Spark builtins):
  *   approx_distinct→approx_count_distinct, strpos→instr,
  *   arbitrary→any_value, json_extract_scalar→get_json_object,
  *   to_unixtime→unix_timestamp, codepoint→ascii; plus `"ident"`
  *   identifiers and backslash-literal escaping (Trino is ANSI).
  *
  * [[Dialect.Snowflakeish]]: IFF, DATEADD/DATEDIFF date parts,
  * TO_VARCHAR/TO_CHAR formats, `"ident"` identifiers.
  *
  * [[Dialect.BigQueryish]]: SAFE_CAST + INT64/FLOAT64/BOOL/BYTES type
  * names, FORMAT_DATE/FORMAT_TIMESTAMP, DATE_DIFF/TIMESTAMP_DIFF,
  * REGEXP_CONTAINS; backtick identifiers pass through untouched.
  *
  * [[Dialect.MySqlish]] (reference core.py:66 names "mysql" as an input
  * dialect): `LIMIT offset, count`, DATE_FORMAT/STR_TO_DATE with MySQL
  * `%` codes (note `%i` = minutes, `%M` = month NAME — not strftime),
  * GROUP_CONCAT → listagg, LOCATE(sub, str) argument swap, UCASE/LCASE/MID
  * renames. Backtick identifiers, `REGEXP`, IFNULL, IF, SUBSTRING_INDEX,
  * DATEDIFF(d1, d2) are already Spark-native and pass through.
  *
  * [[Dialect.ClickHouseIsh]]: `-If` aggregate combinators, uniqExact,
  * multiIf, the camel-case `to*` conversion family, lambda-first array
  * HOFs, arrayJoin, splitByChar, position argument order, empty/notEmpty.
  *
  * [[Dialect.RedshiftIsh]]: the Postgres rewrites plus null-matching
  * DECODE, DATEADD/DATEDIFF with Redshift part abbreviations, bare
  * VARCHAR/TEXT casts, GETDATE/LEN renames, LISTAGG pass-through.
  *
  * Everything the rewriter does is textual, over the spans of one lexer
  * ([[Dialect.lex]]): string literals, quoted identifiers and comments are
  * opaque to every pass, which never matches or splices inside them. Each
  * dialect's rewrite has four parts:
  *  1. the prelude ([[Dialect.prelude]]), one lexing of the raw text by
  *     the dialect's own literal rules: its literals in Spark's syntax
  *     (the ANSI-literal dialects double their backslashes, MySQL and
  *     Tableau turn `"…"` strings into `'…'` literals), its `"ident"` or
  *     `[ident]` as backticks, and DuckDB's unsupported-function check;
  *  2. the statement-level constructs (QUALIFY, DISTINCT ON, TOP, the
  *     FETCH FIRST family, LIMIT BY, `* REPLACE`), each lexing only when
  *     its trigger word occurs. A statement-level site is one SELECT
  *     scope; its rewrite keeps the statement's own SELECT and appends
  *     Spark pipe operators (`|> WHERE`, `|> EXTEND`, `|> DROP`,
  *     `|> SET`, …), so nothing is analysed against the data and `*` is
  *     never expanded;
  *  3. one pass of the site rewriter ([[Dialect.rewriteSites]]) over the
  *     dialect's [[Dialect.Table]]: its clause passes (FILTER, UNNEST,
  *     ARRAY JOIN, subscripts, `**`, …) and one `name → transform` call
  *     table holding its call transforms and its function and word
  *     renames. It lexes once, rewrites a site's inner parts before the
  *     site and never rescans its output, so it is linear in the SQL's
  *     length;
  *  4. the membership null-placement pin ([[Dialect.pinSortNulls]]), one
  *     site per ORDER BY key list over one lexing.
  * Every part after the prelude lexes Spark's literal syntax. Parts 2 and
  * 3 run in the order each dialect states next to its table. The rewrite
  * needs a session only for READ_CSV and for the PERCENT scale plan's
  * leading-key type probe.
  */
sealed trait Dialect {
  def rewrite(spark: SparkSession, sql: String,
      schemas: Map[String, StructType] = Map.empty): String

  /** How the dialect folds the case of unquoted identifiers — the
    * reference normalizes registered table names per input dialect
    * (table.py:77,85 `normalize_name`, sqlglot NormalizationStrategy):
    * most dialects (incl. TSQL and BigQuery, CASE_INSENSITIVE in
    * sqlglot) fold to lowercase, Snowflake/Oracle-family fold to
    * UPPERCASE, and only ClickHouse treats names case-sensitively.
    */
  def nameFold: Dialect.NameFold = Dialect.NameFold.Lower

  /** Whether this dialect reads `"…"` as a STRING literal (Spark's
    * default parser, MySQL family, Tableau) rather than an ANSI quoted
    * IDENTIFIER. Drives [[Engine]]'s name flattening: a string literal
    * `"db.t"` must survive untouched, while a quoted identifier
    * referencing a registered nested table must flatten to resolve.
    */
  def doubleQuotedIsString: Boolean = false

  /** Whether this dialect's single-quoted string literals honor backslash
    * escapes (Spark/Hive, MySQL family, Snowflake, BigQuery, ClickHouse,
    * Redshift — `standard_conforming_strings = off` ancestry) or treat
    * backslash as a PLAIN character with ''-doubling the only escape
    * (the ANSI family: DuckDB, Trino, Postgres, SQLite, Oracle,
    * TSQL, Teradata, Tableau, Exasol, Druid). Drives
    * [[Engine]]'s name-flattening literal scan, which runs on the raw
    * input text BEFORE this dialect's rewrite — scanning an ANSI literal
    * like `'C:\'` with backslash escapes would swallow its closing quote
    * and corrupt everything after it.
    */
  def literalBackslashEscapes: Boolean = true
}

object Dialect {

  /** Unquoted-identifier case folding strategy (see [[Dialect.nameFold]]). */
  sealed trait NameFold
  object NameFold {
    case object Lower extends NameFold
    case object Upper extends NameFold
    case object Sensitive extends NameFold
  }

  /** Dialect by sqlglot-style name — the reference's string `dialect`
    * argument (core.py:66 `read=dialect`, README.md:31-32 lists spark /
    * presto / duckdb / snowflake / bigquery). Unknown names raise
    * [[graft.UnsupportedError]] rather than silently parsing as Spark.
    */
  def forName(name: String): Dialect = name.toLowerCase match {
    // Hive: Spark SQL is the Hive dialect's direct descendant — LATERAL
    // VIEW, backtick identifiers, RLIKE, SORT/DISTRIBUTE BY all parse
    // natively (gated by op_dialect_hive), so "hive" maps to pass-through.
    // Databricks SQL and legacy "spark2" are Spark SQL surfaces outright.
    case "spark" | "hive" | "databricks" | "spark2" | "" => Spark
    case "duckdb" => DuckDbish
    // Athena's engine IS Presto/Trino; same SQL surface.
    case "presto" | "trino" | "athena" => Trinoish
    case "snowflake" => Snowflakeish
    case "bigquery" => BigQueryish
    // Doris and StarRocks speak the MySQL protocol and SQL surface.
    case "mysql" | "doris" | "starrocks" => MySqlish
    // Materialize and RisingWave are Postgres-wire/SQL compatible.
    case "postgres" | "postgresql" | "materialize" | "risingwave" => Postgresish
    case "sqlite" => SqliteIsh
    case "oracle" => OracleIsh
    case "tsql" | "mssql" | "sqlserver" => TsqlIsh
    case "clickhouse" => ClickHouseIsh
    case "redshift" => RedshiftIsh
    case "teradata" => TeradataIsh
    // Apache Drill's SQL core (backtick identifiers, ANSI functions) is
    // Spark-parseable as-is; Drill-specific constructs fail fast at the
    // parser rather than silently misparse.
    case "drill" => Spark
    // Dune SQL is Trino underneath.
    case "dune" => Trinoish
    case "tableau" => TableauIsh
    case "exasol" => ExasolIsh
    case "druid" => DruidIsh
    // SingleStore (formerly MemSQL) speaks the MySQL protocol and surface.
    case "singlestore" | "memsql" => MySqlish
    case other => throw new graft.UnsupportedError(s"unknown SQL dialect '$other'")
  }

  /** Native Spark SQL — no rewriting. */
  case object Spark extends Dialect {
    override val doubleQuotedIsString: Boolean = true
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String = sql
  }

  /** DuckDB-ish surface (constructs above). Table functions we do NOT shim
    * raise [[graft.UnsupportedError]] up front — a clear unsupported-dialect
    * error instead of a confusing Spark parse error (the reference's
    * UnsupportedError analogue, executor.py:192-195).
    */
  case object DuckDbish extends Dialect {
    override val literalBackslashEscapes: Boolean = false
    // word-boundary + optional space before '(' + span filtered: a
    // READ_JSON mention inside a string literal must NOT raise, and
    // `READ_JSON ('x')` with a space must still be caught.
    private val unsupportedRe =
      """(?i)\b(READ_JSON_AUTO|READ_JSON|READ_CSV_AUTO|GLOB)\s*\(""".r
    // `list` is DuckDB's array_agg alias. It reaches the FILTER clause
    // and the array_agg entry as array_agg, so the collect-family FILTER
    // struct wrap and the ordered/keep-null/DISTINCT paths all apply; a
    // FILTER site covers its aggregate's call, so the two never both
    // rewrite one call (a plain CASE wrap under `list(x) FILTER …` would
    // keep the filtered-out rows as null elements). The list_* renames
    // are distinct names.
    private val renames = Map(
      "list" -> "array_agg",
      "len" -> "length",
      "list_contains" -> "array_contains",
      "list_has" -> "array_contains",
      "list_value" -> "array",
      "list_sort" -> "sort_array",
      "list_distinct" -> "array_distinct",
      "array_length" -> "size",
      "regexp_matches" -> "regexp_like")
    private val table = Table(Seq(rewriteGenerateSeriesTable, rewriteArrayLiteral,
      rewriteIntDiv, rsBareTypes, // DuckDB's unsized VARCHAR/TEXT
      aggFilter(renames),
      // DuckDB shares the inline-ORDER-BY array_agg but defaults to NULLS
      // LAST in BOTH sort directions (Postgres flips on DESC); bare
      // array_agg keeps NULL elements (struct wrap, r15)
      new ArrayAgg(Some(Order(descNullsLast = true)), keepNulls = true),
      strftime, stringSplit, epoch), renames)

    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String = {
      val s = prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '"',
        (raw, spans) => unsupportedRe.findAllMatchIn(raw).find(m => spans.outside(m.start))
          .foreach { m =>
            throw new graft.UnsupportedError(
              s"dialect construct ${m.group(1)}(...) is not supported; use READ_CSV or register a table")
          })
      val scoped = rewriteStarReplace(rewriteExclude(rewriteDistinctOn(rewriteQualify(s))))
      // the membership null-placement pin (DuckDB sorts NULLS LAST both
      // ways) sees every window and truncated ORDER BY the others emit
      rewriteReadCsv(spark, pinSortNulls(table(scoped), alwaysLast = true), schemas)
    }
  }

  /** Presto/Trino function-name surface over Spark SQL. Most Trino syntax
    * (TRY_CAST, `||`, lambda `x -> ...`, UNNEST-as-LATERAL-VIEW differences
    * aside) is already Spark-native; this maps the common function renames.
    */
  case object Trinoish extends Dialect {
    override val literalBackslashEscapes: Boolean = false
    // a FILTER site covers its aggregate's call, so the FILTER rewrite
    // reads the aggregate under its renamed, Spark spelling
    private val renames = Map(
      "approx_distinct" -> "approx_count_distinct",
      "strpos" -> "instr",
      "arbitrary" -> "any_value",
      "json_extract_scalar" -> "get_json_object",
      "to_unixtime" -> "unix_timestamp",
      "codepoint" -> "ascii")
    private val table = Table(Seq(trinoDateFns, trinoTry, aggFilter(renames),
      // Trino's array_agg takes the inline ORDER BY too; its default
      // null ordering is NULLS LAST regardless of direction (r16
      // second review — previously mis-pinned to the Postgres
      // nulls-largest polarity, wrong on DESC keys) and null VALUES
      // are kept — in the bare form too (struct wrap, r15)
      new ArrayAgg(Some(Order(descNullsLast = true)), keepNulls = true),
      rewriteArrayLiteral, rewriteUnnest), renames)
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String = {
      // Trino is ANSI like DuckDB: "ident" is an identifier (Spark's default
      // parser would read it as a string literal — a silent semantic change),
      // and backslash is a plain character inside string literals.
      val s = prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '"')
      // Trino speaks the full ANSI paging surface (r16 — raw parse
      // errors before): FETCH FIRST n ROWS WITH TIES rides the shared
      // rank builder in always-last mode (Trino's documented default:
      // NULLS LAST regardless of direction), OFFSET…FETCH and the
      // bare FETCH map to LIMIT/OFFSET
      val paged = rewriteFetchFirst(rewriteTsqlOffsetFetch(
        rewriteFetchFirstWithTies(s, nullsAlwaysLast = true)))
      pinSortNulls(table(paged), alwaysLast = true)
    }
  }

  /** Snowflake-ish surface (reference README.md:31-32, core.py:66 — sqlglot
    * `read="snowflake"`): `"ident"` identifiers, `IFF`, `DATEADD`/`DATEDIFF`
    * with a date-part argument (boundary-crossing semantics, translated to
    * exact year/quarter/month arithmetic — NOT Spark's complete-interval
    * `timestampdiff`), `TO_VARCHAR` with Snowflake date format elements.
    * `NVL`/`NVL2`/`TRY_CAST`/`ILIKE` are already Spark-native. Snowflake
    * string literals use backslash escapes (matching Spark's default parser),
    * so they are NOT doubled.
    */
  case object Snowflakeish extends Dialect {
    override val nameFold: NameFold = NameFold.Upper
    // `to_char` renames to to_varchar and reaches the to_varchar entry
    // as to_varchar (Snowflake's TO_CHAR is the same function)
    private val table = Table(Seq(
      // Snowflake spells ordered array_agg WITHIN GROUP; its nulls sort
      // highest (last-on-ASC/first-on-DESC, like Postgres) and — unlike
      // Postgres — NULL VALUES are silently dropped from the array
      new ArrayAgg(Some(Order(descNullsLast = false, skipNullValues = true)), withinGroup = true),
      snowTryTo, snowDateAdd, snowDateDiff, snowDayMonthName,
      teradataZeroNull, // ZEROIFNULL/NULLIFZERO are Snowflake builtins too
      toVarchar),
      renames = Map("iff" -> "if", "to_char" -> "to_varchar",
        // LEN is Snowflake's LENGTH alias; CHARINDEX(substr, str) shares
        // locate's argument order; OBJECT_CONSTRUCT/ARRAY_CONSTRUCT are
        // name-for-name Spark named_struct/array (VARIANT-free subset —
        // the constructed value feeds TO_JSON or typed access)
        "len" -> "length", "charindex" -> "locate",
        "object_construct" -> "named_struct", "array_construct" -> "array"))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String = {
      val s = prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '"')
      // Snowflake supports `SELECT TOP n` (no PERCENT/TIES — those
      // spellings are T-SQL's and Snowflake's parser rejects them —
      // a NAMED error, not the silent T-SQL-semantics superset, r17).
      // Runs BEFORE the QUALIFY rewrite so the emitted
      // LIMIT lands after the QUALIFY clause and the QUALIFY rewrite
      // carries it as its tail — QUALIFY filters first, then TOP,
      // exactly Snowflake's evaluation order (r16).
      // minusIsSetOp: MINUS is a documented Snowflake synonym of
      // EXCEPT (unlike T-SQL's, where minus is only ever an
      // identifier — r19 review: gating it off here made a TOP
      // before MINUS silently limit the COMBINED result)
      val scoped = rewriteQualify(rewriteTsqlTop(s, allowPercentTies = false,
        qualifyClause = true, minusIsSetOp = true))
      // FLATTEN runs over the table's output: its metadata columns
      // substitute the rewritten input wherever they are referenced.
      // The null-placement pin (Snowflake sorts nulls largest — r16
      // review: the TOP wiring's LIMIT made the statement ORDER BY
      // placement membership-relevant) sees every emitted window.
      pinSortNulls(rewriteSnowFlatten(table(scoped)))
    }
  }

  /** BigQuery-ish surface (reference README.md:31-32, core.py:66 — sqlglot
    * `read="bigquery"`): `SAFE_CAST`→`TRY_CAST`, BigQuery type names
    * (`INT64`/`FLOAT64`/`BOOL`/`BYTES`), `FORMAT_DATE`/`FORMAT_TIMESTAMP`
    * (C strftime codes, format-first argument order), `DATE_DIFF` with a
    * trailing date part (boundary-crossing semantics),
    * `REGEXP_CONTAINS`→`regexp_like`. Backtick identifiers pass through —
    * they are already Spark's quoting. BigQuery string literals use
    * backslash escapes (matching Spark), so literals are not doubled.
    */
  case object BigQueryish extends Dialect {
    private val table = Table(Seq(rewriteUnnest, rewriteBqSubscript, formatDate,
      bqDateDiff, bqDateAddSub, bqSplit, bqGenerateArray,
      // IGNORE-NULLS ordered aggregation; BigQuery sorts nulls SMALLEST
      bqArrayAgg),
      renames = Map(
        "safe_cast" -> "try_cast",
        "regexp_contains" -> "regexp_like",
        // the SAFE_ arithmetic family is Spark's try_ family (NULL instead
        // of error — overflow/div-zero under ANSI semantics on both)
        "safe_divide" -> "try_divide", "safe_add" -> "try_add",
        "safe_subtract" -> "try_subtract", "safe_multiply" -> "try_multiply",
        "array_length" -> "size",
        // same (array, separator) signature on both sides
        "array_to_string" -> "array_join",
        "to_json_string" -> "to_json",
        "starts_with" -> "startswith", "ends_with" -> "endswith",
        // BigQuery FORMAT is printf-style — Spark's format_string
        "format" -> "format_string"),
      words = Map(
        "INT64" -> "BIGINT", "FLOAT64" -> "DOUBLE", "BOOL" -> "BOOLEAN",
        "BYTES" -> "BINARY"))
    // no literal or identifier conversion: BigQuery's literals escape
    // like Spark's and its backtick identifiers are Spark's
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String =
      table(rewriteStarReplace(rewriteQualify(sql)))
  }

  /** MySQL-ish surface (reference core.py:66 — `dialect` accepts "mysql").
    * MySQL string literals use backslash escapes exactly as Spark's default
    * parser does (no doubling); `"…"` strings become `'…'` literals first,
    * and backtick identifiers are already Spark's quoting. Constructs
    * translated:
    *   - `LIMIT offset, count` → `LIMIT count OFFSET offset`
    *   - `DATE_FORMAT(x, '%d/%m/%Y')` / `STR_TO_DATE(s, 'fmt')` — MySQL `%`
    *     codes (`%i` minutes, `%M` month name) → Java patterns; STR_TO_DATE
    *     emits `to_timestamp` when the format has time codes, `to_date`
    *     otherwise (MySQL's DATE-vs-DATETIME result typing)
    *   - `GROUP_CONCAT([DISTINCT] x [ORDER BY …] [SEPARATOR 's'])` →
    *     `listagg([DISTINCT] x, 's') [WITHIN GROUP (ORDER BY …)]`
    *   - `LOCATE(sub, str)` → `instr(str, sub)` (argument order swap)
    *   - renames: UCASE→upper, LCASE→lower, MID→substring,
    *     CURDATE→current_date
    * `REGEXP`, `IFNULL`, `IF`, `SUBSTRING_INDEX`, `DATEDIFF(d1, d2)` (same
    * d1−d2 day count), `CONCAT_WS`, `NOW()` are Spark-native pass-throughs.
    */
  case object MySqlish extends Dialect {
    override val doubleQuotedIsString: Boolean = true // MySQL "…" is a string
    private val table = Table(Seq(rewriteMysqlLimit, groupConcat, mysqlDateFns,
      mysqlDayNames, mysqlLocate),
      renames = Map(
        "ucase" -> "upper", "lcase" -> "lower", "mid" -> "substring",
        "curdate" -> "current_date"))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String =
      table(prelude(sql, literalBackslashEscapes, doubleQuotedIsString, ' '))
  }

  /** Postgres-ish surface: `expr::TYPE` casts and `"ident"` identifiers
    * (ANSI, like DuckDB), `TO_CHAR` with Postgres template patterns
    * (`YYYY-MM-DD HH24:MI:SS`, translated to a Java pattern), the `~` /
    * `!~` regex-match operators (→ RLIKE / NOT RLIKE), `EXTRACT(EPOCH
    * FROM …)` (→ unix_timestamp, second precision), and
    * `string_to_array` → split, and FROM-clause `UNNEST` (r19 — comma
    * lateral, WITH ORDINALITY, multi-array zip; see [[rewriteUnnest]]).
    * `ILIKE`, `SPLIT_PART`, `POSITION(x IN
    * y)`, `LEFT`/`RIGHT`, `now()` are already Spark-native and pass
    * through. Postgres standard-conforming literals treat backslash as a
    * plain character, so they are escaped for Spark's parser like
    * DuckDB/Trino's.
    */
  case object Postgresish extends Dialect {
    override val literalBackslashEscapes: Boolean = false
    // a FILTER site covers its aggregate's call: the string_agg entry
    // reaches a filtered string_agg through the FILTER site
    private val table = Table(Seq(aggFilter(emitted = Map("string_agg" -> pgStringAgg)),
      rewriteGenerateSeriesTable,
      // ARRAY[…] and UNNEST are separate sites: an ARRAY[…] argument is
      // an UNNEST hole, rewritten to call form first
      rewriteArrayLiteral,
      // FROM-clause UNNEST is everyday Postgres (r19 — a raw Spark
      // parse error before): the comma-FROM lateral spelling, WITH
      // ORDINALITY, and the multi-array zip all ride the shared
      // machinery — Postgres pads the zip to the LONGEST array with
      // NULLs, exactly the Trino contract the builder implements.
      rewriteUnnest,
      rsBareTypes, // unsized VARCHAR/TEXT casts are Postgres-legal too
      pgToChar, rewritePgRegexMatch, pgExtractEpoch, pgStringAgg,
      // Postgres default null placement: last on ASC, FIRST on DESC;
      // bare array_agg keeps NULL elements (struct wrap, r15)
      new ArrayAgg(Some(Order(descNullsLast = false)), keepNulls = true)),
      renames = Map("string_to_array" -> "split"))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String = {
      val s = prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '"')
      // DISTINCT ON is Postgres's OWN construct (DuckDB copied it) —
      // wired since r16; `* REPLACE` is no Postgres syntax, but a star
      // REPLACE reaching the paging rewrites becomes `|> SET` first.
      // Then FETCH FIRST n ROWS WITH TIES (rank filter), ANSI
      // OFFSET…FETCH paging and the standalone FETCH FIRST n.
      val scoped = rewriteFetchFirst(rewriteTsqlOffsetFetch(rewriteFetchFirstWithTies(
        rewriteStarReplace(rewriteDistinctOn(s)))))
      // the null-placement pin (Postgres sorts nulls largest)
      pinSortNulls(table(scoped))
    }
  }

  /** SQLite-ish surface: `"ident"` identifiers, `strftime('fmt', expr)`
    * with the format argument FIRST (the opposite of DuckDB's order —
    * same C codes, translated by the shared table), `expr GLOB 'pat'`
    * (→ anchored RLIKE, `*`/`?` wildcards), and the pass-throughs SQLite
    * shares with Spark: IFNULL, INSTR, two-argument SUBSTR, `||`, LIMIT
    * … OFFSET. SQLite literals escape by doubling quotes only.
    */
  case object SqliteIsh extends Dialect {
    override val literalBackslashEscapes: Boolean = false
    private val table = Table(Seq(sqliteStrftime, sqliteDateFn, rewriteAggFilter, rewriteSqliteGlob))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String =
      table(prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '"'))
  }

  /** Oracle-ish surface: `DECODE` (null-safe CASE — Oracle DECODE matches
    * NULL search values, so the rewrite uses `<=>`), `TO_DATE`/`TO_CHAR`
    * with Oracle format templates (same table as Postgres), `MINUS` →
    * EXCEPT, `SYSDATE` → current_timestamp, and trailing
    * `WHERE ROWNUM <= n` → LIMIT n (any other ROWNUM use raises — its
    * assigned-before-ORDER-BY semantics have no declarative equivalent).
    * `NVL`/`NVL2`/`GREATEST`/`LEAST`/`INSTR`/`SUBSTR`/`TRUNC(date,'MM')`
    * and `||` are already Spark-native and pass through. Oracle literals
    * are ANSI ('' doubling, backslash plain), escaped for Spark like
    * DuckDB's.
    */
  case object OracleIsh extends Dialect {
    override val literalBackslashEscapes: Boolean = false
    override val nameFold: NameFold = NameFold.Upper
    private val table = Table(Seq(oracleDecode, oracleToDate, pgToChar, rewriteOracleRownum),
      words = Map("MINUS" -> "EXCEPT", "SYSDATE" -> "current_timestamp()"))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String = {
      // the table runs before the paging rewrites: the percent scale
      // plan's leading-key type probe analyzes rewritten text
      val s = table(prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '"'))
      // FETCH FIRST n PERCENT before the plain forms (the session serves
      // the percent scale plan's leading-key type probe only), then
      // FETCH FIRST n ROWS WITH TIES (rank filter), Oracle 12c
      // OFFSET…FETCH paging and the standalone FETCH FIRST n
      val paged = rewriteFetchFirst(rewriteTsqlOffsetFetch(rewriteFetchFirstWithTies(
        rewriteFetchFirstPercent(s, Some(spark)))))
      // the null-placement pin (Oracle sorts nulls largest)
      pinSortNulls(paged)
    }
  }

  /** T-SQL-ish (SQL Server) surface: `SELECT TOP n` → LIMIT (subquery-
    * and UNION-aware placement), `[bracket]` identifiers → backticks,
    * `CONVERT(type, expr)` → CAST with SQL Server type names mapped,
    * `DATEADD`/`DATEDIFF`/`DATEPART` with T-SQL part abbreviations
    * (DATEDIFF counts boundary crossings; weeks roll at Sunday per
    * `@@DATEFIRST = 7`), `OFFSET n ROWS FETCH NEXT m ROWS ONLY` →
    * LIMIT/OFFSET, and renames `ISNULL`→coalesce, `IIF`→if,
    * `CHARINDEX`→locate (same argument order), `LEN`→length,
    * `GETDATE`/`SYSDATETIME`→current_timestamp, `REPLICATE`→repeat.
    * `SUBSTRING`, `UPPER`/`LOWER`, `COALESCE`, `NULLIF`, CASE, and
    * `STRING_AGG(x, sep) WITHIN GROUP (ORDER BY …)` (Spark 4 ships
    * string_agg natively) are Spark-native pass-throughs. `+` as string concatenation is NOT
    * translated (it is type-dependent in T-SQL and indistinguishable
    * from addition without schema inference) — use CONCAT. T-SQL string
    * literals escape by quote doubling only, so backslashes are escaped
    * for Spark's parser like DuckDB's.
    */
  case object TsqlIsh extends Dialect {
    override val literalBackslashEscapes: Boolean = false
    // PIVOT's IN values arrive backticked from the prelude. APPLY's
    // STRING_SPLIT call lies inside the APPLY site, so that site applies
    // the string_split entry to the call it emits.
    private val table = Table(Seq(rewriteTsqlPivot, tsqlApply(stringSplit(_)), stringSplit,
      tsqlConvert, tsqlDateAdd, tsqlDateDiff, tsqlDatePart),
      renames = Map(
        "isnull" -> "coalesce", "iif" -> "if", "charindex" -> "locate",
        "len" -> "length", "getdate" -> "current_timestamp",
        "sysdatetime" -> "current_timestamp", "replicate" -> "repeat"))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String = {
      // the table runs before TOP: the TOP PERCENT scale plan's
      // leading-key type probe, which the session serves, analyzes
      // rewritten text
      val s = table(prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '['))
      rewriteTsqlOffsetFetch(rewriteTsqlTop(s, Some(spark)))
    }
  }

  /** Redshift-ish surface — Postgres 8 ancestry plus warehouse extras, so
    * it composes the existing rewrites: `"ident"` quoting, `::` casts,
    * `~`/`!~` regex matches, TO_CHAR/TO_DATE templates (the shared
    * Postgres/Oracle table), Oracle-style null-matching DECODE,
    * `DATEADD`/`DATEDIFF` with Redshift part names and abbreviations
    * (boundary-crossing counts; weeks roll at SUNDAY per Redshift's
    * DATEDIFF(week) boundary), GETDATE/SYSDATE → current_timestamp, and
    * LEN → length. `LISTAGG(x, sep) WITHIN GROUP (ORDER BY …)`, NVL,
    * NVL2, POSITION, SPLIT_PART are Spark-4-native pass-throughs.
    * Redshift string literals process backslash escapes (Postgres
    * `standard_conforming_strings = off` ancestry) exactly as Spark's
    * parser does, so literals are not doubled.
    */
  case object RedshiftIsh extends Dialect {
    // inherits literalBackslashEscapes = true: Redshift literals process
    // backslash escapes (see the class doc above), as Spark's do
    private val table = Table(Seq(oracleDecode, oracleToDate, pgToChar, rewritePgRegexMatch,
      rsDateAdd, rsDateDiff, rsBareTypes),
      renames = Map(
        "getdate" -> "current_timestamp", "sysdate" -> "current_timestamp",
        "len" -> "length", "strpos" -> "instr", "charindex" -> "locate"))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String = {
      val s = prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '"')
      // the null-placement pin (Redshift sorts nulls largest)
      pinSortNulls(table(rewriteQualify(s)))
    }
  }

  /** Teradata-ish surface: the `SEL` statement abbreviation, keyword
    * comparison operators (`EQ NE LT LE GT GE`), infix `MOD`,
    * `ZEROIFNULL`/`NULLIFZERO`, `OREPLACE`/`OTRANSLATE` (Teradata's
    * replace/translate — the empty-vs-NULL replacement-string quirk is
    * outside the shimmed scope), `INDEX(string, substring)` → instr,
    * `TOP n` (reusing the T-SQL scope-end LIMIT placement — `SEL` must
    * expand first so the TOP pattern sees `SELECT TOP`), `**` exponent
    * (bounded operand forms → `power`, left-associative; unboundable
    * operands raise), and `QUALIFY`.
    * `"ident"` double-quoted identifiers map to backticks, and the
    * keyword rewriters skip quoted identifiers (a column named `"lt"`
    * stays a column). `CAST(x AS t FORMAT '…')` is outside the shimmed
    * surface and fails fast at Spark's parser. `ADD_MONTHS`, `NVL`,
    * `POSITION`, `TRIM(BOTH …)`, `SUBSTR`, and `||` concat are
    * Spark-native pass-throughs. Unquoted identifiers resolve
    * case-insensitively (sqlglot's default CASE_INSENSITIVE strategy
    * for Teradata) → default Lower fold. Standard ''-doubled literals;
    * a literal backslash is escaped first, as in the T-SQL shim.
    */
  case object TeradataIsh extends Dialect {
    override val literalBackslashEscapes: Boolean = false
    private val table = Table(Seq(teradataSel, teradataComparators,
      rewriteTeradataInfixMod, rewriteTeradataPower, teradataZeroNull),
      renames = Map("index" -> "instr", "oreplace" -> "replace",
        "otranslate" -> "translate"))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String = {
      // "ident" → `ident` in the prelude: Teradata quotes identifiers with
      // double quotes, and the keyword rewrites must see them as
      // identifiers. The table runs before TOP and QUALIFY, which need
      // SEL spelled SELECT.
      val s = table(prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '"'))
      // Teradata evaluates QUALIFY before TOP. The TOP rewrite runs
      // first and leaves the QUALIFY clause in its SELECT: a plain TOP
      // appends LIMIT, which the QUALIFY rewrite then turns into a pipe
      // after its filter, and a TIES/PERCENT rank follows as
      // `|> EXTEND`, which the QUALIFY rewrite keeps after its filter.
      // The session serves the TOP PERCENT type probe only.
      rewriteQualify(rewriteTsqlTop(s, Some(spark), qualifyClause = true,
        minusIsSetOp = true)) // MINUS is a Teradata set operator
    }
  }

  /** ClickHouse-ish surface: the `-If` aggregate combinators
    * (`countIf`/`sumIf`/`avgIf`/`minIf`/`maxIf` → conditional-CASE
    * aggregates; `sumIf` keeps ClickHouse's 0-on-empty default, the
    * others return NULL where ClickHouse would return a type default),
    * `uniqExact` → COUNT(DISTINCT) and `uniq` → approx_count_distinct,
    * `multiIf` → CASE, the camel-case `to*` conversion family
    * (`toYear`/`toMonth`/`toDayOfMonth`/`toDate`/`toString`/`toInt32`/
    * `toInt64`/`toFloat64`/`toYYYYMM`/`toYYYYMMDD`/`toStartOfYear`/
    * `toStartOfMonth`/`toStartOfDay`/`toUnixTimestamp`), lambda-FIRST
    * array HOFs (`arrayMap`/`arrayFilter`/`arrayExists`/`arrayAll`/
    * `arrayCount` → transform/filter/exists/forall with the array first),
    * `arrayJoin` → explode (one per SELECT — Spark's generator rule),
    * `has` → array_contains, `splitByChar`/`splitByString` (separator
    * FIRST, split literally not as a regex), `position(haystack, needle)`
    * → locate (argument swap), and `empty`/`notEmpty` string tests.
    * `if(c,a,b)`, `concat`, `lower`/`upper`, `coalesce`, `length`,
    * backtick identifiers, and `%` modulo are Spark-native
    * pass-throughs. ClickHouse string literals use backslash escapes
    * exactly as Spark's default parser does, so literals are not
    * doubled.
    */
  case object ClickHouseIsh extends Dialect {
    override val nameFold: NameFold = NameFold.Sensitive
    private val table = Table(Seq(rewriteChArrayJoin, chAggIf, chMultiIf, chTo,
      chFormatDateTime, chArrayHof, chSplit, chUniq, chEmpty, chPosition),
      renames = Map(
        "arrayjoin" -> "explode",
        "has" -> "array_contains",
        "arraysort" -> "sort_array",
        "arraydistinct" -> "array_distinct"))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String =
      // the table runs before LIMIT BY, whose FROM body must not end in
      // an ARRAY JOIN clause; the null-placement pin (ClickHouse defaults
      // to NULLS LAST in both sort directions, like DuckDB) runs last
      pinSortNulls(rewriteChLimitBy(table(sql)), alwaysLast = true)
  }

  /** Tableau-ish surface — the calculation-language constructs sqlglot's
    * `tableau` dialect reads (tableau.py: IFNULL → coalesce, COUNTD →
    * distinct count, the `IF … THEN … [ELSEIF …] [ELSE …] END` block)
    * plus the Tableau functions whose first argument is a quoted
    * date-part name. `[Bracket Idents]` (Tableau field references) map
    * to backticks, reusing the T-SQL rewriter. The IF block maps
    * keyword-for-keyword onto CASE (`IF` → `CASE WHEN`, `ELSEIF` →
    * `WHEN` — THEN/ELSE/END are CASE's own keywords), which is exact
    * because Tableau has no bare `IF(...)` function (that form is IIF).
    * `IIF(test, then, else[, unknown])` is null-AWARE in Tableau — an
    * UNKNOWN test yields the 4th argument (or NULL), never `else` — so
    * it maps to an explicit two-branch CASE rather than Spark's `if`
    * (which sends NULL tests down the else branch). `COUNTD(x)` →
    * COUNT(DISTINCT x). DATEADD/DATEDIFF/DATEPART/DATETRUNC/DATENAME
    * take Tableau's quoted part names; DATEDIFF counts boundary
    * crossings with weeks rolling at SUNDAY (Tableau's default week
    * start); `'week'` DATEPART/DATETRUNC raise (week-start-configurable
    * numbering with no fixed Spark equivalent — the same fail-fast as
    * the T-SQL shim). `SPLIT(s, delim, n)` (literal delimiter, 1-based
    * token, negative counts from the end) → `element_at` over a
    * \Q…\E-quoted `split`. `MID` → substring, `STR` → string (Spark's
    * to-string cast alias), `FLOAT` → double (Tableau FLOAT is
    * double-precision — Spark's 32-bit `float` would silently lose
    * precision). IFNULL / ISNULL / INT / LEFT / RIGHT / CONTAINS /
    * STARTSWITH / ENDSWITH / TRIM / ABS / POWER / ROUND are
    * Spark-native pass-throughs.
    * Tableau string literals treat backslash as a plain character →
    * escaped for Spark's parser; Tableau's double-quoted STRINGS keep
    * Spark's backslash escapes and become `'…'` literals. Unquoted identifiers
    * fold case-insensitively (sqlglot default) → Lower.
    */
  case object TableauIsh extends Dialect {
    override val literalBackslashEscapes: Boolean = false
    override val doubleQuotedIsString: Boolean = true // Tableau "…" is a string
    // STR is Tableau's to-string cast (Spark has no `str` — its cast
    // alias is `string`); Tableau FLOAT is double-precision, so it maps
    // to `double`, not Spark's 32-bit `float` (which would silently
    // lose precision); INT is Spark-native truncation
    private val table = Table(Seq(tableauIfBlock, tableauIif, tableauCountd,
      tableauDateAdd, tableauDateDiff, tableauDatePart, tableauDateTrunc,
      tableauDateName, tableauSplit),
      renames = Map("mid" -> "substring", "str" -> "string", "float" -> "double"))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String =
      table(prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '['))
  }

  /** Exasol-ish surface — Oracle-family SQL with Exasol's date-arithmetic
    * function set: `ADD_DAYS`/`ADD_WEEKS`/`ADD_MONTHS`/`ADD_YEARS`/
    * `ADD_HOURS`/`ADD_MINUTES`/`ADD_SECONDS` (type-preserving on DATE for
    * the day-granular forms, timestamp for the sub-day ones),
    * `DAYS_BETWEEN`/`HOURS_BETWEEN`/`MINUTES_BETWEEN`/`SECONDS_BETWEEN`
    * (first-minus-second ordering; the sub-day forms return fractional
    * values like Exasol's DECIMAL results), `ZEROIFNULL`/`NULLIFZERO`
    * (shared with the Teradata shim), Oracle-style null-matching `DECODE`,
    * `TO_CHAR`/`TO_DATE` templates (the shared Postgres/Oracle table), and
    * `TRUNC[ATE](date, 'fmt')` → date_trunc. `INSTR`, `LOCATE`, `NVL`,
    * `NULLIF`, `SUBSTR`, `LPAD`/`RPAD`, `||` concat, and `MOD(a, b)` are
    * Spark-native pass-throughs. `YEARS_BETWEEN`/`MONTHS_BETWEEN` are NOT
    * shimmed (Exasol's fractional-month convention differs from Spark's
    * `months_between` in end-of-month handling — fail fast rather than
    * silently drift). Exasol string literals escape by quote doubling only
    * (backslash is a plain character) and unquoted identifiers fold to
    * UPPERCASE, both as in Oracle.
    */
  case object ExasolIsh extends Dialect {
    override val literalBackslashEscapes: Boolean = false
    override val nameFold: NameFold = NameFold.Upper
    private val table = Table(Seq(exasolAddUnits, exasolBetweenUnits, exasolTrunc,
      oracleDecode, oracleToDate, pgToChar, teradataZeroNull))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String =
      table(prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '"'))
  }

  /** Druid-ish surface — Druid SQL's (Calcite) time-function family over
    * ISO-8601 period strings: `TIME_FLOOR(ts, 'PT1H')` → date_trunc (unit
    * periods only — PT1S/PT1M/PT1H/P1D/P1W/P1M/P3M/P1Y; arbitrary periods
    * have no date_trunc equivalent and fail fast), `TIME_CEIL` (floor
    * unless already on the boundary, else floor + one unit),
    * `TIME_SHIFT(ts, 'P2D', n)` → timestampadd with the period count
    * multiplied through, `TIME_EXTRACT(ts, 'UNIT')` with Druid's unit
    * names (DOY → dayofyear; DOW is ISO Monday=1 where Spark's dayofweek
    * is Sunday=1, so the rewrite re-bases; EPOCH → whole epoch seconds),
    * `TIME_FORMAT(ts, 'pattern')` → date_format (Druid patterns are Joda,
    * whose year/month/day/hour/minute/second letters match Spark's Java
    * patterns; exotic Joda-only letters fail at Spark's formatter rather
    * than silently misformat), `TIME_PARSE` → to_timestamp,
    * `MILLIS_TO_TIMESTAMP`/`TIMESTAMP_TO_MILLIS`, and integer `DIV(x, y)`
    * → the `DIV` operator on BIGINT operands. `APPROX_COUNT_DISTINCT` is
    * the Spark-native name already (Druid's `_DS_HLL`/`_BUILTIN` variants
    * rename to it). Double-quoted identifiers map to backticks; Druid
    * table/column names are case-sensitive → Sensitive fold; literals
    * escape by quote doubling only.
    */
  case object DruidIsh extends Dialect {
    override val literalBackslashEscapes: Boolean = false
    override val nameFold: NameFold = NameFold.Sensitive
    private val table = Table(Seq(druidTime, druidDiv),
      renames = Map(
        "approx_count_distinct_ds_hll" -> "approx_count_distinct",
        "approx_count_distinct_builtin" -> "approx_count_distinct"))
    def rewrite(spark: SparkSession, sql: String,
        schemas: Map[String, StructType]): String =
      table(prelude(sql, literalBackslashEscapes, doubleQuotedIsString, '"'))
  }

  // ---- the lexer ----------------------------------------------------------

  /** What an opaque region of SQL text is. */
  private[graft] sealed trait SpanKind
  private[graft] object SpanKind {
    /** `'…'` string literal (and `"…"` where the dialect reads it as one). */
    case object Literal extends SpanKind
    /** `"…"` or `` `…` `` quoted identifier. */
    case object Ident extends SpanKind
    /** `-- …` line comment or `/* … */` block comment (hints included). */
    case object Comment extends SpanKind
  }

  /** One opaque region: `[start, end)` of the text it was lexed from. */
  private[graft] final case class Span(start: Int, end: Int, kind: SpanKind)

  /** The lexer's answer for one text: its opaque regions, sorted and
    * non-overlapping. "Which span holds position i" is a binary search,
    * because passes ask it once per regex match or even per character.
    */
  private[graft] final class Spans(val all: Vector[Span]) {
    private def indexAt(i: Int): Int = {
      var lo = 0
      var hi = all.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val s = all(mid)
        if (i < s.start) hi = mid - 1
        else if (i >= s.end) lo = mid + 1
        else return mid
      }
      -1
    }
    def at(i: Int): Option[Span] = {
      val k = indexAt(i)
      if (k < 0) None else Some(all(k))
    }
    def outside(i: Int): Boolean = indexAt(i) < 0
    def hasComment: Boolean = all.exists(_.kind == SpanKind.Comment)
    private val starts = all.iterator.map(_.start).toArray
    private val ends = all.iterator.map(_.end).toArray
    /** Index of the first span that ends after `i`: scans walk forward
      * from it, stepping over each span whole instead of asking
      * [[outside]] per character.
      */
    def after(i: Int): Int = {
      val k = java.util.Arrays.binarySearch(ends, i + 1)
      if (k >= 0) k else -k - 1
    }
    def start(k: Int): Int = if (k < starts.length) starts(k) else Int.MaxValue
    def end(k: Int): Int = ends(k)
  }

  /** The shim's one lexer: string literals, quoted identifiers and
    * comments in a single left-to-right pass. Interleaving matters: an
    * apostrophe inside a comment or a quoted identifier must not open a
    * literal, and a comment marker inside a literal must not open a
    * comment. Every pass runs on text whose literals already use Spark's
    * syntax (the dialects whose literals differ run [[prelude]]
    * first), so the defaults are Spark's: backslash escapes in `'…'`,
    * `"…"` an identifier. Only scans over a dialect's RAW text pass that
    * dialect's own rules. Quotes of every style escape by doubling, and a
    * `"…"` string honors backslash escapes in every dialect that reads
    * one (Spark, MySQL, Tableau).
    *
    * Bracketed comments NEST, as in Spark (SPARK-28880), Postgres and
    * DuckDB. MySQL and Snowflake do not nest, so there a comment holding
    * a second opener reads as unclosed and swallows the statement tail
    * into one opaque span; rewrites never splice into opaque text and
    * Spark's parser applies the same rule, so such input fails loudly
    * at the parser. With `brackets` (the prelude of T-SQL and Tableau) a
    * `[name]` is a quoted identifier too.
    */
  private[graft] def lex(s: String, backslashEscapes: Boolean = true,
      doubleQuotedIsString: Boolean = false, brackets: Boolean = false): Spans = {
    val counts = lexed.get
    counts(0) += 1
    counts(1) += s.length
    val b = Vector.newBuilder[Span]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val st = i
      if (c == '\'' || c == '"' || c == '`') {
        val isString = c == '\'' || (c == '"' && doubleQuotedIsString)
        i += 1
        var done = false
        while (i < s.length && !done) {
          val ch = s.charAt(i)
          if (isString && (backslashEscapes || c == '"') && ch == '\\' && i + 1 < s.length) i += 2
          else if (ch == c && i + 1 < s.length && s.charAt(i + 1) == c) i += 2
          else { done = ch == c; i += 1 }
        }
        b += Span(st, i, if (isString) SpanKind.Literal else SpanKind.Ident)
      } else if (c == '-' && s.startsWith("-", i + 1)) {
        val e = s.indexOf('\n', i)
        i = if (e < 0) s.length else e + 1
        b += Span(st, i, SpanKind.Comment)
      } else if (c == '/' && s.startsWith("*", i + 1)) {
        var d = 1
        i += 2
        while (i < s.length && d > 0) {
          if (s.startsWith("/*", i)) { d += 1; i += 2 }
          else if (s.startsWith("*/", i)) { d -= 1; i += 2 }
          else i += 1
        }
        b += Span(st, i, SpanKind.Comment)
      } else if (brackets && c == '[') {
        // a T-SQL/Tableau `[name]`: no nesting, no `]` inside
        var j = i + 1
        while (j < s.length && s.charAt(j) != ']' && s.charAt(j) != '[') j += 1
        if (j > i + 1 && j < s.length && s.charAt(j) == ']') {
          b += Span(st, j + 1, SpanKind.Ident)
          i = j + 1
        } else i += 1
      } else i += 1
    }
    new Spans(b.result())
  }

  /** Calls of [[lex]] and characters lexed on each thread, a test hook
    * for the shim's lexing cost.
    */
  private val lexed = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](2))

  /** (calls, characters) through [[lex]] so far on this thread. */
  private[graft] def lexCount: (Long, Long) = {
    val c = lexed.get
    (c(0), c(1))
  }

  /** The first part of every dialect's rewrite, over one lexing of the
    * raw text by the dialect's own literal rules:
    *  - its literals in Spark's syntax: without `backslashEscapes` (the
    *    ANSI-literal dialects) every backslash in a literal is doubled,
    *    because those dialects read `\` as a plain character and Spark's
    *    parser as an escape ('C:\' would swallow its closing quote and
    *    '\n' silently become a newline); with `doubleQuotedIsString`
    *    (MySQL, Tableau) each `"…"` string becomes a `'…'` literal, so
    *    later passes, which lex `"…"` as an identifier, never mis-read
    *    one holding `\"`;
    *  - its quoted identifiers as backticks: `"ident"` when `idents` is
    *    '"' (Spark's default parser would read it as a string literal, a
    *    silent change of meaning; a doubled `""` inside is a quote), and
    *    `[ident]` when `idents` is '['; any other `idents` leaves them;
    *  - `check`, which may raise on what the raw text holds.
    * Every later pass lexes Spark's literal syntax and needs no
    * per-dialect flag.
    */
  private[graft] def prelude(sql: String, backslashEscapes: Boolean,
      doubleQuotedIsString: Boolean, idents: Char,
      check: (String, Spans) => Unit = (_, _) => ()): String = {
    val spans = lex(sql, backslashEscapes, doubleQuotedIsString, brackets = idents == '[')
    check(sql, spans)
    replaceSpans(sql, spans) {
      case Span(a, b, SpanKind.Literal) if sql.charAt(a) == '"' =>
        singleQuoted(sql.substring(a, b))
      case Span(a, b, SpanKind.Literal) if !backslashEscapes =>
        Some(sql.substring(a, b).replace("\\", "\\\\"))
      case Span(a, b, SpanKind.Ident) if sql.charAt(a) == '"' && idents == '"' =>
        val closed = b - a >= 2 && sql.charAt(b - 1) == '"'
        val ident = sql.substring(a + 1, if (closed) b - 1 else b).replace("\"\"", "\"")
        Some("`" + ident.replace("`", "``") + "`")
      case Span(a, b, SpanKind.Ident) if sql.charAt(a) == '[' =>
        Some("`" + sql.substring(a + 1, b - 1) + "`")
      case _ => None
    }
  }

  /** [[prelude]]'s literal conversion alone, for the ANSI-literal dialects. */
  private[graft] def escapeBackslashLiterals(sql: String): String =
    prelude(sql, backslashEscapes = false, doubleQuotedIsString = false, ' ')

  /** A `"…"` string (backslash escapes kept, `""` a quote) as the same
    * string in Spark's `'…'` syntax; None when it is unterminated, which
    * Spark's parser then rejects.
    */
  private def singleQuoted(lit: String): Option[String] = {
    val out = new java.lang.StringBuilder("'")
    var i = 1
    while (i < lit.length) {
      val c = lit.charAt(i)
      if (c == '\\' && i + 1 < lit.length) { out.append(lit, i, i + 2); i += 2 }
      else if (c == '"' && i + 1 < lit.length) { out.append('"'); i += 2 }
      else if (c == '"') return Some(out.append('\'').toString)
      else { out.append(if (c == '\'') "\\'" else c.toString); i += 1 }
    }
    None
  }

  /** `sql` with each span the function maps to Some(text) replaced. */
  private def replaceSpans(sql: String, spans: Spans)(f: Span => Option[String]): String = {
    val out = new StringBuilder
    var last = 0
    spans.all.foreach { sp =>
      f(sp).foreach { text =>
        out.append(sql.substring(last, sp.start)).append(text)
        last = sp.end
      }
    }
    out.append(sql.substring(last)).toString
  }

  /** DuckDB `a // b` integer division → Spark `a DIV b`. Measured against
    * the oracle DuckDB build: integer `//` TRUNCATES toward zero exactly as
    * Spark's DIV does (-7 // 2 = -3, 23 // -3 = -7), so the mapping is exact
    * including negative operands — gated by `op_dialect_intdiv_neg`. (Python
    * floors; DuckDB's integer `//` does not.) Operands must be integral:
    * Spark's DIV raises on doubles, and DuckDB's double `//` (which floors)
    * is out of scope. `//` cannot appear in any other SQL construct outside
    * a string literal, so the token rewrite is unambiguous.
    */
  private[graft] val rewriteIntDiv: Pass = tokens("//".r)(_ => " DIV ")

  /** C strftime codes → Java SimpleDateFormat-style pattern for
    * `date_format`. Literal letters are quoted ('T'), `'` becomes `''`.
    * Unknown `%` codes raise [[graft.UnsupportedError]] (a silently wrong
    * format string is worse than an error).
    */
  private[graft] def translateStrftimeFormat(fmt: String): String = {
    val codes = Map(
      'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss",
      'j' -> "DDD", 'a' -> "EEE", 'A' -> "EEEE", 'b' -> "MMM",
      'B' -> "MMMM", 'p' -> "a", 'f' -> "SSSSSS", 'Z' -> "zz", 'z' -> "xx")
    val out = new StringBuilder
    val lit = new StringBuilder
    // literal runs are quoted as ONE section: per-char quoting would emit
    // 'd''a''y', which Java reads as d-quote-a-quote-y ('' = literal quote)
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(_.isLetter)) out.append('\'').append(s.replace("'", "''")).append('\'')
      else out.append(s.replace("'", "''"))
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val code = fmt.charAt(i + 1)
        if (code == '%') { lit.append('%'); i += 2 }
        else {
          flush()
          out.append(codes.getOrElse(code,
            throw new graft.UnsupportedError(s"strftime code %$code is not supported")))
          i += 2
        }
      } else { lit.append(c); i += 1 }
    }
    flush()
    out.toString
  }

  /** The innermost parenthesized span enclosing position `at`:
    * Some((open, close)) indices of the paren pair, None at depth 0 or
    * on unbalanced text.
    */
  private def enclosingParen(sql: String, spans: Spans,
      at: Int): Option[(Int, Int)] = {
    var i = at - 1
    var d = 0
    var open = -1
    while (i >= 0 && open < 0) {
      if (spans.outside(i)) {
        val c = sql.charAt(i)
        if (c == ')') d += 1
        else if (c == '(') { if (d == 0) open = i else d -= 1 }
      }
      i -= 1
    }
    if (open < 0) None
    else {
      val close = matchParen(sql, spans, open)
      if (close < 0) None else Some((open, close))
    }
  }

  /** Find the `)` matching the `(` at `open` (the `]` matching a `[`),
    * skipping the lexer's spans; -1 when unbalanced.
    */
  private def matchParen(sql: String, spans: Spans, open: Int): Int = {
    val (openC, closeC) = if (sql.charAt(open) == '[') ('[', ']') else ('(', ')')
    var depth = 0
    var i = open
    var k = spans.after(open)
    while (i < sql.length) {
      if (i >= spans.start(k)) { i = spans.end(k); k += 1 }
      else {
        val c = sql.charAt(i)
        if (c == openC) depth += 1
        else if (c == closeC) { depth -= 1; if (depth == 0) return i }
        i += 1
      }
    }
    -1
  }

  /** Split `sql[from, to)` on top-level commas, skipping the lexer's spans. */
  private def splitArgs(sql: String, spans: Spans, from: Int, to: Int): Seq[String] =
    argRanges(sql, spans, from, to).map { case (a, b) => sql.substring(a, b) }

  /** The `[start, end)` ranges [[splitArgs]] cuts `sql[from, to)` into. */
  private def argRanges(sql: String, spans: Spans, from: Int, to: Int): Seq[(Int, Int)] = {
    val args = Seq.newBuilder[(Int, Int)]
    var depth = 0
    var last = from
    var i = from
    var k = spans.after(from)
    while (i < to) {
      if (i >= spans.start(k)) { i = spans.end(k); k += 1 }
      else {
        val c = sql.charAt(i)
        if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') depth -= 1
        else if (c == ',' && depth == 0) { args += ((last, i)); last = i + 1 }
        i += 1
      }
    }
    args += ((last, to))
    args.result()
  }

  private val SingleLiteral = """^\s*'(.*)'\s*$""".r

  /** `strftime(expr, '%Y-%m')` → `date_format(expr, 'yyyy-MM')`. The format
    * must be a string literal (dynamic formats would need runtime
    * translation — unsupported, raises).
    */
  private[graft] val strftime: Calls = Calls("strftime") { (_, args) =>
    if (args.length != 2)
      throw new graft.UnsupportedError("strftime expects (expr, 'format')")
    val fmt = args(1) match {
      case SingleLiteral(f) => translateStrftimeFormat(f)
      case _ => throw new graft.UnsupportedError(
        "strftime format must be a string literal")
    }
    // the Java pattern may itself contain quotes ('day 'dd) — double
    // them so the embedded SQL literal stays balanced
    Some("date_format(" + args(0) + ", '" + fmt.replace("'", "''") + "')")
  }

  /** `string_split(s, sep)` → `split(s, <regex>)`. DuckDB's separator is a
    * literal; Spark's is a Java regex, so a literal separator is \Q-quoted
    * and a dynamic one is wrapped `concat('\\Q', sep, '\\E')`. A literal
    * containing `\E` cannot be \Q-quoted — raises.
    */
  private[graft] val stringSplit: Calls = Calls("string_split|str_split|string_to_array") { (_, args) =>
    if (args.length != 2)
      throw new graft.UnsupportedError("string_split expects (expr, separator)")
    val sep = args(1) match {
      case SingleLiteral(lit) =>
        if (lit.contains("\\E"))
          throw new graft.UnsupportedError("string_split separator containing \\E is not supported")
        "'\\\\Q" + lit + "\\\\E'"
      case dyn => s"concat('\\\\Q', $dyn, '\\\\E')"
    }
    Some("split(" + args(0) + ", " + sep + ")")
  }

  /** `sql` with every match of `re` that starts outside the lexer's
    * spans replaced by `f(match)`.
    */
  private def replaceOutside(sql: String, re: scala.util.matching.Regex)(
      f: scala.util.matching.Regex.Match => String): String = {
    val spans = lex(sql)
    val out = new StringBuilder
    var last = 0
    re.findAllMatchIn(sql).foreach { m =>
      if (spans.outside(m.start)) {
        out.append(sql.substring(last, m.start)).append(f(m))
        last = m.end
      }
    }
    out.append(sql.substring(last)).toString
  }

  // ---- Teradata -----------------------------------------------------------

  /** Replace every SQL comment span with spaces of the same length,
    * leaving literals and quoted identifiers (and their contents, even
    * when they LOOK like comment markers) byte-identical. A `--` line
    * comment's terminating newline is preserved only as the blank —
    * the comment text can no longer swallow appended clauses, which is
    * what lets [[pinSortNulls]] pin a key span that carries a comment
    * instead of silently declining (r16 "what's wrong" item 1: the
    * decline reverted the site to Spark's null polarity with no error).
    */
  private[graft] def blankComments(s: String): String = {
    val spans = lex(s)
    if (!spans.hasComment) return s
    // Spark optimizer HINTS (`/*+ … */`) are comments to the lexer
    // but plan directives to Spark — blanking one silently drops a
    // BROADCAST/REPARTITION and changes the physical plan (r17
    // review). A hint is honored by Spark ONLY directly after a
    // SELECT keyword, so only THAT position is preserved (second r17
    // review pass: preserving `/*+` text elsewhere — mid-select-list,
    // inside ORDER BY keys — broke item naming and key splitting that
    // blanking used to keep clean, for positions where the hint is
    // inert anyway). A kept hint stays opaque for span purposes
    // (parens inside it never skew a depth map) and, being a
    // self-terminating block span, cannot swallow appended syntax
    // the way a `--` line comment can.
    def afterSelect(a: Int): Boolean = {
      // scan back over whitespace AND over prior comment/hint spans
      // (third r17 review pass: Spark honors `SELECT /*+h1*/ /*+h2*/`
      // and `SELECT /* note */ /*+h*/` — both hints must survive —
      // and skipping spans whole also stops the word SELECT INSIDE a
      // preceding comment from falsely qualifying an inert hint)
      var j = a - 1
      var moved = true
      while (moved) {
        moved = false
        while (j >= 0 && s.charAt(j).isWhitespace) { j -= 1; moved = true }
        spans.at(j).filter(_.kind == SpanKind.Comment)
          .foreach { sp => j = sp.start - 1; moved = true }
      }
      j >= 5 && s.regionMatches(true, j - 5, "SELECT", 0, 6) &&
        (j - 6 < 0 || {
          val c = s.charAt(j - 6); !c.isLetterOrDigit && c != '_'
        })
    }
    replaceSpans(s, spans) {
      case Span(a, b, SpanKind.Comment) if !(s.startsWith("/*+", a) && b - a >= 3 && afterSelect(a)) =>
        Some(" " * (b - a))
      case _ => None
    }
  }

  /** `SEL` → `SELECT` — Teradata's statement-keyword abbreviation. Word
    * boundary, literal- and quoted-identifier-filtered (quote a column
    * actually named `sel` to keep it an identifier).
    */
  private[graft] val teradataSel: Table = Table(Nil, words = Map("sel" -> "SELECT"))

  /** Teradata keyword comparison operators — `EQ NE LT LE GT GE` → the
    * symbol forms. Word-boundary, literal- and quoted-identifier-filtered
    * (quote a column named like an operator keyword to keep it).
    */
  private val Comparators = Map("eq" -> "=", "ne" -> "<>", "lt" -> "<",
    "le" -> "<=", "gt" -> ">", "ge" -> ">=")
  private[graft] val teradataComparators: Table = Table(Nil, words = Comparators)

  /** Infix `MOD` → `%`. Infix vs the Spark-native `MOD(a, b)` CALL is
    * decided by what PRECEDES the keyword — an infix MOD always follows a
    * finished left operand (identifier char, `)`, or a quoted
    * identifier), while the call form sits at expression position (after
    * `(`/`,`/an operator/statement start). A lookahead on `(` would
    * misclassify the perfectly-valid `a MOD (b + 1)`. A comparator
    * keyword (`a GT MOD(b, 2)`) is an operator, not an operand. Teradata's
    * MOD result sign follows the dividend, exactly like Spark's `%`.
    */
  private[graft] val rewriteTeradataInfixMod: Pass = pass { (sql, spans) =>
    "(?i)\\bMOD\\b".r.findAllMatchIn(sql).filter(m => spans.outside(m.start)).flatMap { m =>
      var p = m.start - 1
      while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
      val infix = p >= 0 && {
        val c = sql.charAt(p)
        (c.isLetterOrDigit || c == '_' || c == ')' || c == '`' || c == '"') &&
          !Comparators.contains(wordBefore(sql, p + 1))
      }
      if (infix) Some(new Site(m.start, m.end, Nil, _ => Some("%"))) else None
    }
  }

  /** Teradata `**` exponent → `power(l, r)` for BOUNDED operand forms:
    * a number (optionally signed on the right, scientific notation
    * accepted), an identifier chain (`a.b.c`, possibly a call `f(…)`),
    * a quoted identifier, or a parenthesized group. Paren matching skips
    * string-literal spans, so a `'('` inside an argument never
    * mis-groups; any whitespace (newline/tab) separates operands. A
    * chain `a ** b ** c` is one site whose operands fold left
    * (`power(power(a, b), c)`), matching Teradata's left-to-right
    * evaluation. An operand this scanner cannot bound — including a
    * left operand that is the tail of a scientific-notation number —
    * raises rather than silently mis-grouping.
    */
  private[graft] val rewriteTeradataPower: Pass = pass { (sql, spans) =>
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_' || c == '.'
    def raise(side: String): Nothing = throw new graft.UnsupportedError(
      s"cannot bound the $side operand of ** in: $sql")
    val numRe = "^[-+]?\\s*\\d+(\\.\\d+)?([eE][-+]?\\d+)?".r
    // one chain of operands per site: `a ** b ** c` folds left
    val chains = scala.collection.mutable.ArrayBuffer.empty[Vector[(Int, Int)]]
    "\\*\\*".r.findAllMatchIn(sql).filter(m => spans.outside(m.start)).foreach { m =>
      val at = m.start
      // ---- left operand: [s, e) ----
      var e = at
      while (e > 0 && sql.charAt(e - 1).isWhitespace) e -= 1
      val chained = chains.nonEmpty && chains.last.last._2 == e
      if (!chained) {
        var s = e
        if (s > 0 && spans.at(s - 1).isDefined) {
          s = spans.at(s - 1).get.start // quoted identifier operand
        } else if (s > 0 && sql.charAt(s - 1) == ')') {
          s = backwardMatch(sql, spans, s - 1)
          if (s < 0) raise("left")
          while (s > 0 && isIdent(sql.charAt(s - 1))) s -= 1 // call name
        } else {
          while (s > 0 && isIdent(sql.charAt(s - 1))) s -= 1
          // `1e-3 ** 2` would otherwise bound the left operand at `3`
          if (s >= 3 && (sql.charAt(s - 1) == '-' || sql.charAt(s - 1) == '+') &&
              (sql.charAt(s - 2) | 0x20) == 'e' && sql.charAt(s - 3).isDigit)
            raise("left")
        }
        if (s == e) raise("left")
        chains += Vector((s, e))
      }
      // ---- right operand: [rs, re) ----
      var rs = at + 2
      while (rs < sql.length && sql.charAt(rs).isWhitespace) rs += 1
      var re = rs
      prefixMatch(numRe, sql, rs) match {
        case Some(nm) => re = rs + nm.end
        case None =>
          if (re < sql.length && (sql.charAt(re) == '-' || sql.charAt(re) == '+')) {
            re += 1
            while (re < sql.length && sql.charAt(re).isWhitespace) re += 1
          }
          def groupEnd(open: Int): Int = {
            val close = matchParen(sql, spans, open)
            if (close < 0) raise("right") else close + 1
          }
          if (re < sql.length && spans.at(re).isDefined) {
            re = spans.at(re).get.end // quoted identifier operand
          } else if (re < sql.length && sql.charAt(re) == '(') {
            re = groupEnd(re)
          } else {
            val r0 = re
            while (re < sql.length && isIdent(sql.charAt(re))) re += 1
            if (re == r0) raise("right")
            if (re < sql.length && sql.charAt(re) == '(') re = groupEnd(re)
          }
      }
      if (re == rs) raise("right")
      chains(chains.length - 1) = chains.last :+ ((rs, re))
    }
    chains.iterator.map { ops =>
      new Site(ops.head._1, ops.last._2, ops,
        xs => Some(xs.tail.foldLeft(xs.head)((l, r) => s"power($l, $r)")))
    }
  }

  /** `ZEROIFNULL(x)` → `coalesce(x, 0)`; `NULLIFZERO(x)` → `nullif(x, 0)`
    * (argument-count checked — both are strictly unary in Teradata).
    */
  private[graft] val teradataZeroNull: Calls = Calls("zeroifnull|nullifzero") { (name, args) =>
    if (args.length != 1)
      throw new graft.UnsupportedError(s"$name expects a single argument")
    Some(if (name.equalsIgnoreCase("zeroifnull")) s"coalesce(${args(0)}, 0)"
      else s"nullif(${args(0)}, 0)")
  }

  // ---- the site rewriter -------------------------------------------------

  /** One place a pass rewrites: the source range `[start, end)` and its
    * holes, the inner ranges (sorted, disjoint, inside the site) whose
    * rewritten text `build` receives. `build` gives the site's
    * replacement, or None to keep its text with the holes rewritten.
    */
  private[graft] final class Site(val start: Int, val end: Int,
      val holes: Seq[(Int, Int)], val build: Seq[String] => Option[String])

  /** Rewrite the sites `sitesOf` finds in `sql`, lexed once. Inside-out,
    * in one pass: a site's holes are rewritten first (by recursing over
    * their ranges of the same text), then the site itself. Every site is
    * rewritten exactly once and the output is never rescanned, so a
    * `build` may emit text its pass would match. A site found inside
    * another but in none of its holes is part of the text that site's
    * `build` replaces; sites that cross raise.
    */
  private def rewriteSites(sql: String)(sitesOf: Spans => Iterator[Site]): String = {
    val sites = sitesOf(lex(sql)).toVector.sortBy(st => (st.start, -st.end))
    val out = new java.lang.StringBuilder
    var next = 0
    // passes over the sites that start before `at`, inside a site ending
    // at `end` but in none of its holes
    def skip(at: Int, end: Int): Unit =
      while (next < sites.length && sites(next).start < at) {
        if (sites(next).end > end)
          throw new graft.UnsupportedError(s"overlapping rewrite sites in: $sql")
        next += 1
      }
    // appends sql[from, to) to `out`, rewriting the sites that start in it
    def emit(from: Int, to: Int): Unit = {
      var last = from
      while (next < sites.length && sites(next).start < to) {
        val st = sites(next)
        next += 1
        if (st.end > to || (st.start < last && st.end > last))
          throw new graft.UnsupportedError(s"overlapping rewrite sites in: $sql")
        if (st.start >= last) {
          out.append(sql, last, st.start)
          val siteStart = out.length
          var pos = st.start
          val holes = st.holes.map { case (a, b) =>
            skip(a, st.end)
            out.append(sql, pos, a)
            val holeStart = out.length
            emit(a, b)
            pos = b
            out.substring(holeStart)
          }
          skip(st.end, st.end)
          out.append(sql, pos, st.end)
          st.build(holes).foreach { t =>
            out.setLength(siteStart)
            out.append(t)
          }
          last = st.end
        }
      }
      out.append(sql, last, to)
    }
    emit(0, sql.length)
    out.toString
  }

  /** One `name(…)` call: where its name starts, its opener and the
    * matching closer.
    */
  private[graft] final case class Call(name: String, start: Int, open: Int, close: Int)

  /** Every `name(…)` call outside the lexer's spans (`name[…]` with
    * `opener` "["), `names` being a regex alternation of names.
    */
  private def calls(sql: String, spans: Spans, names: String,
      opener: String = "("): Iterator[Call] =
    ("(?i)\\b(" + names + ")\\s*" + java.util.regex.Pattern.quote(opener)).r
      .findAllMatchIn(sql).filter(m => spans.outside(m.start)).map { m =>
        val open = m.end - 1 // the regex consumed through the opener
        val close = matchParen(sql, spans, open)
        if (close < 0)
          throw new graft.UnsupportedError(s"unbalanced ${m.group(1)}$opener in: $sql")
        Call(m.group(1), m.start, open, close)
      }

  /** A site per call: the argument ranges are the holes,
    * `build(name, args)` the replacement.
    */
  private def callSites(sql: String, spans: Spans, names: String, opener: String = "(")(
      build: (String, Seq[String]) => Option[String]): Iterator[Site] =
    calls(sql, spans, names, opener).map { c =>
      new Site(c.start, c.close + 1, argRanges(sql, spans, c.open + 1, c.close),
        args => build(c.name, args))
    }

  /** A rewrite over one lexing: the [[Site]]s it finds in a text. Passes
    * compose into a [[Table]], whose sites one [[rewriteSites]] run
    * rewrites together; a pass applied alone is one such run.
    */
  private[graft] abstract class Pass extends (String => String) {
    def sites(sql: String, spans: Spans): Iterator[Site]
    final def apply(sql: String): String = rewriteSites(sql)(sites(sql, _))
  }

  /** The pass whose sites `find` gives. */
  private def pass(find: (String, Spans) => Iterator[Site]): Pass = new Pass {
    def sites(sql: String, spans: Spans): Iterator[Site] = find(sql, spans)
  }

  /** Each match of `re` that starts outside the lexer's spans, replaced
    * by `f(match)`.
    */
  private def tokens(re: scala.util.matching.Regex)(
      f: scala.util.matching.Regex.Match => String): Pass =
    pass((sql, spans) => re.findAllMatchIn(sql).filter(m => spans.outside(m.start))
      .map(m => new Site(m.start, m.end, Nil, _ => Some(f(m)))))

  /** A call-table entry: every call of one of `names` (an alternation,
    * matched case-insensitively), whose arguments are rewritten first and
    * whose replacement is `f(name, trimmed arguments)`, or None to keep
    * the call with its arguments rewritten.
    */
  private[graft] class Calls(names: String)(f: (String, Seq[String]) => Option[String]) extends Pass {
    val nameList: Seq[String] = names.split('|').toSeq
    /** The site of call `c`, None when the call is left as written. */
    def site(sql: String, spans: Spans, c: Call): Option[Site] =
      Some(new Site(c.start, c.close + 1, argRanges(sql, spans, c.open + 1, c.close),
        args => f(c.name, args.map(_.trim))))
    def sites(sql: String, spans: Spans): Iterator[Site] =
      calls(sql, spans, names).flatMap(site(sql, spans, _))
  }
  private[graft] object Calls {
    def apply(names: String)(f: (String, Seq[String]) => Option[String]): Calls =
      new Calls(names)(f)
  }

  /** A dialect's site pass: its clause passes, its call entries, its
    * function renames (`from(` → `to(`) and its word renames, all found
    * over one lexing and rewritten in one [[rewriteSites]] run, so a
    * rename never meets text another site emitted and an argument is
    * rewritten before its call. A rename covers the name and its `(`
    * only. A rename to a name an entry transforms reaches that entry
    * under the new name. Tables nest: a table among `parts` adds its
    * parts and renames.
    */
  private[graft] final case class Table(parts: Seq[Pass], renames: Map[String, String] = Map.empty,
      words: Map[String, String] = Map.empty) extends Pass {
    private def lower(m: Map[String, String]) =
      m.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    private val passes: Seq[Pass] = parts.flatMap {
      case t: Table => t.passes
      case p => Seq(p)
    }
    private val toName: Map[String, String] =
      parts.collect { case t: Table => t.toName }.foldLeft(lower(renames))(_ ++ _)
    private val toWord: Map[String, String] =
      parts.collect { case t: Table => t.toWord }.foldLeft(lower(words))(_ ++ _)
    private val entries: Map[String, Calls] = {
      val named = passes.collect { case c: Calls => c }
        .flatMap(c => c.nameList.map(_.toLowerCase(java.util.Locale.ROOT) -> c))
      require(named.map(_._1).distinct.size == named.size, "two entries share a name")
      named.toMap
    }
    private val clauses = passes.filterNot(_.isInstanceOf[Calls])
    private def alternation(names: Iterable[String]): Option[String] =
      if (names.isEmpty) None
      else Some(names.toSeq.sortBy(-_.length).map(java.util.regex.Pattern.quote).mkString("|"))
    private val callRe = alternation(entries.keys ++ toName.keys).map(a => s"(?i)\\b($a)\\s*\\(".r)
    private val wordRe = alternation(toWord.keys).map(a => s"(?i)\\b($a)\\b".r)

    def sites(sql: String, spans: Spans): Iterator[Site] = {
      def outside(re: Option[scala.util.matching.Regex]) =
        re.iterator.flatMap(_.findAllMatchIn(sql)).filter(m => spans.outside(m.start))
      val named = outside(callRe).flatMap { m =>
        val key = m.group(1).toLowerCase(java.util.Locale.ROOT)
        val to = toName.get(key)
        entries.get(to.fold(key)(_.toLowerCase(java.util.Locale.ROOT))) match {
          case Some(entry) =>
            val open = m.end - 1
            val close = matchParen(sql, spans, open)
            if (close < 0)
              throw new graft.UnsupportedError(s"unbalanced ${m.group(1)}( in: $sql")
            entry.site(sql, spans, Call(to.getOrElse(m.group(1)), m.start, open, close))
          case None => Some(new Site(m.start, m.end, Nil, _ => Some(to.get + "(")))
        }
      }
      val renamedWords = outside(wordRe).map { m =>
        new Site(m.start, m.end, Nil, _ => Some(toWord(m.group(1).toLowerCase(java.util.Locale.ROOT))))
      }
      clauses.iterator.flatMap(_.sites(sql, spans)) ++ named ++ renamedWords
    }
  }

  /** The match of `re` starting exactly at `from`; its positions count
    * from `from`. Reads `sql` in place, without copying its tail.
    */
  private def prefixMatch(re: scala.util.matching.Regex, sql: String,
      from: Int): Option[scala.util.matching.Regex.Match] =
    re.findPrefixMatchOf(java.nio.CharBuffer.wrap(sql, from, sql.length))

  /** Start of the whitespace that ends at `i`, outside the lexer's spans:
    * where a clause rewritten to `" LATERAL VIEW …"` starts its site.
    */
  private def wsStart(sql: String, spans: Spans, i: Int): Int = {
    var s = i
    while (s > 0 && sql.charAt(s - 1).isWhitespace && spans.outside(s - 1)) s -= 1
    s
  }

  /** DuckDB `epoch(ts)` returns DOUBLE seconds including the fraction;
    * `unix_timestamp` would truncate to whole seconds. Spark's
    * timestamp→double cast is exactly epoch-seconds-with-fraction (session
    * time zone applies to DATE inputs on both engines).
    */
  private[graft] val epoch: Calls = Calls("epoch") { (_, args) =>
    if (args.length != 1)
      throw new graft.UnsupportedError("epoch expects a single argument")
    Some(s"CAST(CAST(${args(0)} AS TIMESTAMP) AS DOUBLE)")
  }

  // ---- select items and sort keys ----------------------------------------

  /** Paren depth before each character, skipping the lexer's spans. */
  private def depthAt(sql: String, spans: Spans): Array[Int] = {
    val d = new Array[Int](sql.length + 1)
    var depth = 0
    var i = 0
    var k = 0
    while (i < sql.length) {
      if (i >= spans.start(k)) {
        java.util.Arrays.fill(d, i, spans.end(k) min sql.length, depth)
        i = spans.end(k)
        k += 1
      } else {
        d(i) = depth
        val c = sql.charAt(i)
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        i += 1
      }
    }
    d(sql.length) = depth
    d
  }

  /** First word-boundary match of `kw` at paren depth 0, outside literals,
    * at or after `from`; -1 if none.
    */
  private def topLevelKeyword(sql: String, spans: Spans,
      depth: Array[Int], kw: String, from: Int = 0): Int =
    ("(?i)\\b" + kw + "\\b").r.findAllMatchIn(sql)
      .find(m => m.start >= from && depth(m.start) == 0 && spans.outside(m.start))
      .map(_.start).getOrElse(-1)

  /** Output-column name of a select-list item: the identifier after a
    * trailing AS, or the last segment of a bare column reference. Anything
    * else (un-aliased expression, `*`) raises — a sort key under SELECT
    * DISTINCT must resolve to a name.
    */
  private def itemName(item: String, construct: String): String = {
    val t = item.trim
    val asRe = "(?i)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)\\s*$".r
    asRe.findFirstMatchIn(t) match {
      case Some(m) => m.group(1)
      case None =>
        if (t.matches("[A-Za-z_][A-Za-z0-9_.]*")) t.split('.').last
        else implicitAlias(t).map(_._2).getOrElse(throw new graft.UnsupportedError(
          s"$construct requires aliased select items to derive output names; cannot name: $t"))
    }
  }

  /** Conservative AS-less implicit-alias matcher (`SELECT v d`,
    * `count(x) c`, `(a + b) s` — all legal SQL): the trailing bare
    * identifier is an alias only when the preceding expression is a
    * SELF-CONTAINED shape — a dotted column path, a parenthesized
    * expression, or a complete function call ending in `)` — and
    * neither side is a clause keyword or sort modifier. Anything else
    * (`interval '1' day`, arithmetic without parens) is never guessed:
    * callers keep their existing pass-through/fail-fast behavior.
    * (r15 ADVICE: the AS-less form used to splice unreduced item text
    * like `(v d)` into window specs — a raw Spark parse error.)
    */
  private val ImplicitAliasStop: Set[String] = Set("where", "group",
    "order", "limit", "having", "on", "with", "join", "cross", "left",
    "right", "inner", "full", "union", "intersect", "except", "qualify",
    "window", "lateral", "as", "select", "from", "nulls", "first", "last",
    "asc", "desc", "over", "filter", "and", "or", "not", "null", "true",
    "false", "end", "when", "then", "else", "case", "between", "in",
    "like", "is", "distinct", "by", "interval")
  private def implicitAlias(item: String): Option[(String, String)] = {
    val re = ("(?is)^([A-Za-z_][A-Za-z0-9_.]*" + // dotted column path
      "|\\(.*\\)" +                              // parenthesized expression
      "|[A-Za-z_][A-Za-z0-9_]*\\s*\\(.*\\))" +   // complete function call
      "\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$").r
    re.findFirstMatchIn(item.trim).collect {
      case m if !ImplicitAliasStop.contains(m.group(2).toLowerCase) &&
          !ImplicitAliasStop.contains(m.group(1).trim.toLowerCase) =>
        (m.group(1).trim, m.group(2))
    }
  }

  /** The expression of a select-list item with a trailing `AS alias`
    * (or a recognized AS-less implicit alias) stripped — the item
    * itself otherwise.
    */
  private def itemExpr(item: String): String =
    "(?is)^(.*\\S)\\s+AS\\s+(?:[A-Za-z_][A-Za-z0-9_]*|`[^`]+`)\\s*$".r
      .findFirstMatchIn(item.trim).map(_.group(1).trim)
      .orElse(implicitAlias(item).map(_._1))
      .getOrElse(item.trim)

  /** Resolve bare-integer ORDINAL sort keys (`ORDER BY 2`) against the
    * parsed select items BEFORE the key list is spliced into a window
    * spec: Spark resolves an integer literal as a column position only
    * in a statement-level Sort — inside an `OVER (ORDER BY …)` it is
    * the CONSTANT 2, silently ranking every row equal (r14 judge
    * finding, live-reproduced on WITH TIES). The n-th item's expression
    * (alias stripped) is substituted, keeping any ASC/DESC/NULLS
    * suffix; an out-of-range position raises like the source dialects
    * do. A key that merely STARTS with a digit but continues as an
    * expression (`2+1`) is a constant in the source dialects too and
    * passes through untouched. The statement-level (outer) ORDER BY is
    * NOT rewritten by callers — ordinals stay correct there.
    */
  private def resolveOrdinalSortKeys(ord: String, items: Seq[String],
      construct: String): String = {
    val oSpans = lex(ord)
    val ordinalRe =
      "(?is)^(\\d+)((?:\\s+(?:ASC|DESC))?(?:\\s+NULLS\\s+(?:FIRST|LAST))?)\\s*$".r
    splitArgs(ord, oSpans, 0, ord.length).map(_.trim).map { part =>
      ordinalRe.findFirstMatchIn(part) match {
        case Some(pm) =>
          val n = pm.group(1).toInt
          if (n < 1 || n > items.length)
            throw new graft.UnsupportedError(
              s"$construct ORDER BY position $n is not in the select list " +
                s"(1..${items.length})")
          s"(${itemExpr(items(n - 1))})${pm.group(2)}"
        case None => part
      }
    }.mkString(", ")
  }

  // ---- statement-level rewrites: SELECT scopes and pipe suffixes ---------

  /** The regions of one SELECT scope a rewrite receives rewritten: each
    * select item, the FROM body (FROM through HAVING/WINDOW), the QUALIFY
    * predicate, the ORDER BY keys, the LIMIT/OFFSET/FETCH paging, a run
    * of pipe operators and the DISTINCT ON keys. Texts are trimmed.
    */
  private final case class Parts(items: Seq[String], body: String,
      pred: Option[String], keys: Option[String], page: Option[String],
      pipes: Option[String], on: Option[String]) {
    def itemList: String = items.mkString(", ")
  }

  private val SetOpArm = ("(?is)(UNION|INTERSECT|EXCEPT|MINUS)\\b\\s*" +
    "(?:(?:ALL|DISTINCT)\\b\\s*)?(?:\\(|(?:SELECT|VALUES|TABLE|WITH)\\b)").r
  private val ScopeClause =
    "(?i)\\b(FROM|QUALIFY|ORDER\\s+BY|LIMIT|OFFSET(?!\\s*\\()|FETCH)\\b|\\|>".r
  private val DistinctOnClause = "(?is)DISTINCT\\s+ON\\s*\\(".r
  private val DistinctWord = "(?is)DISTINCT\\b".r
  private val TopClause = ("(?is)TOP\\s+\\(?\\s*(\\d+(?:\\.\\d+)?)\\s*\\)?" +
    "(\\s+PERCENT)?(\\s+WITH\\s+TIES)?(?=\\s)").r

  private def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Words after which the next token is an operand, never a clause. */
  private val OperandContext = Set("from", "join", "as", "select", "where", "and",
    "or", "on", "not", "by", "when", "then", "else", "distinct", "in", "like",
    "between", "top", "ties", "having", "using")

  /** The word that ends at `end` (exclusive), lowercased. */
  private def wordBefore(sql: String, end: Int): String = {
    var b = end
    while (b > 0 && isWordChar(sql.charAt(b - 1))) b -= 1
    sql.substring(b, end).toLowerCase
  }

  /** Index of the last character before `i` that is neither whitespace
    * nor inside a comment; -1 when there is none.
    */
  private def prevToken(sql: String, spans: Spans, i: Int): Int = {
    var j = i - 1
    var moved = true
    while (moved) {
      moved = false
      while (j >= 0 && sql.charAt(j).isWhitespace) { j -= 1; moved = true }
      spans.at(j).filter(_.kind == SpanKind.Comment).foreach { sp => j = sp.start - 1; moved = true }
    }
    j
  }

  /** One SELECT's scope, parsed at the SELECT's own paren depth over the
    * pass's one lexing: no analysis, nothing executed. The scope runs
    * from the SELECT keyword to the `)` that closes its enclosing paren,
    * a set operation at its depth, or the end of the text. Its regions
    * ([[Parts]]) are the holes of its [[Site]], so the scopes nested in
    * them are rewritten before it and nothing is rescanned.
    * `qualifyClause` says whether QUALIFY is a clause in the dialect;
    * where it is not, a word `qualify` is an identifier.
    */
  private final class Sel(sql: String, spans: Spans, depth: Array[Int],
      val start: Int, qualifyClause: Boolean) {
    private val d = depth(start)
    private val hintText = new StringBuilder
    /** `i0` moved past whitespace and comments, keeping optimizer hints. */
    private def skip(i0: Int): Int = {
      var i = i0
      var more = true
      while (more) {
        more = false
        while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
        spans.at(i).filter(_.kind == SpanKind.Comment).foreach { sp =>
          if (sql.startsWith("/*+", sp.start)) hintText.append(sql.substring(sp.start, sp.end)).append(' ')
          i = sp.end
          more = true
        }
      }
      i
    }
    private var pos = skip(start + "SELECT".length)
    /** `DISTINCT ON (…)`: its key list's parens. */
    val distinctOn: Option[(Int, Int)] =
      prefixMatch(DistinctOnClause, sql, pos).map { m =>
        val open = pos + m.end - 1
        val close = matchParen(sql, spans, open)
        if (close < 0) throw new graft.UnsupportedError(s"unbalanced DISTINCT ON ( in: $sql")
        pos = skip(close + 1)
        (open, close)
      }
    val distinct: Boolean = distinctOn.isEmpty &&
      prefixMatch(DistinctWord, sql, pos).map { m => pos = skip(pos + m.end) }.isDefined
    /** T-SQL/Snowflake/Teradata `TOP n [PERCENT] [WITH TIES]`. */
    val top: Option[(String, Boolean, Boolean)] = prefixMatch(TopClause, sql, pos).map { m =>
      pos = skip(pos + m.end)
      (m.group(1), m.group(2) != null, m.group(3) != null)
    }
    /** The SELECT-adjacent optimizer hints, each followed by a space. */
    val hints: String = hintText.toString
    private val itemsStart = pos
    /** Where the scope ends, and the set operation that ends it. */
    val (end: Int, setOpAfter: Option[String]) = {
      var i = itemsStart
      var found: (Int, Option[String]) = (sql.length, None)
      while (i < found._1) {
        if (depth(i) == d && spans.outside(i)) {
          val c = sql.charAt(i)
          if (c == ')') found = (i, None)
          else if ("uUiIeEmM".indexOf(c) >= 0 && (i == 0 || !isWordChar(sql.charAt(i - 1))))
            prefixMatch(SetOpArm, sql, i).foreach { m =>
              val p = prevToken(sql, spans, i)
              if (p < 0 || sql.charAt(p) != '*') found = (i, Some(m.group(1).toUpperCase))
            }
        }
        i += 1
      }
      found
    }
    /** The scope is the operand of a set operation before or after it. */
    val armAfter: Boolean = setOpAfter.isDefined
    val armBefore: Boolean = {
      val p = prevToken(sql, spans, start)
      var w = if (p < 0) "" else wordBefore(sql, p + 1)
      if (w == "all" || w == "distinct") {
        val q = prevToken(sql, spans, p + 1 - w.length)
        w = if (q < 0) "" else wordBefore(sql, q + 1)
      }
      Set("union", "intersect", "except", "minus").contains(w)
    }
    // clause keywords at the scope's depth: (start, end, kind)
    private val marks: Vector[(Int, Int, String)] =
      ScopeClause.findAllMatchIn(java.nio.CharBuffer.wrap(sql, itemsStart, end))
        .map(m => (itemsStart + m.start, itemsStart + m.end,
          Option(m.group(1)).fold("|>")(_.toUpperCase.replaceAll("\\s+", " "))))
        .filter { case (a, _, _) => depth(a) == d && spans.outside(a) }.toVector
    /** Index of the FROM keyword, -1 when the SELECT has none. */
    val from: Int = marks.find { case (a, _, k) =>
      k == "FROM" && { val p = prevToken(sql, spans, a); p < 0 || wordBefore(sql, p + 1) != "distinct" }
    }.fold(-1)(_._1)
    private val pipe = marks.find(m => m._1 > from && m._3 == "|>")
    // the clause keywords between the FROM and the first pipe
    private val tail = marks.filter(m => m._1 > from && pipe.forall(m._1 < _._1))
    private def first(kinds: Set[String]) = tail.find(m => kinds(m._3))
    // a `qualify` after a word or operator that expects an operand names
    // a table, alias or column
    private val qualify = tail.find { case (a, _, k) =>
      k == "QUALIFY" && {
        val p = prevToken(sql, spans, a)
        p < 0 || (!",.=<>+-*/%(".contains(sql.charAt(p)) &&
          !OperandContext.contains(wordBefore(sql, p + 1)))
      }
    }
    /** A QUALIFY sits in clause position, whether or not the dialect has
      * the clause.
      */
    val qualifyWord: Boolean = qualify.isDefined
    // the QUALIFY / ORDER BY / paging clauses and the pipes: (keyword
    // start, text start, kind)
    private val clauses: Vector[(Int, Int, String)] =
      Vector(qualify.filter(_ => qualifyClause).map(m => (m._1, m._2, "pred")),
        first(Set("ORDER BY")).map(m => (m._1, m._2, "keys")),
        first(Set("LIMIT", "OFFSET", "FETCH")).map(m => (m._1, m._1, "page")),
        pipe.map(m => (m._1, m._1, "pipes"))).flatten.sortBy(_._1)
    private def regionEnd(a: Int): Int = clauses.map(_._1).find(_ > a).getOrElse(end)
    /** Start of the first clause after the FROM body, or the scope end. */
    val bodyEnd: Int = clauses.headOption.fold(end)(_._1)
    /** Tagged regions, in text order: (start, end, kind). */
    private val regions: Vector[(Int, Int, String)] = {
      val itemsEnd = if (from >= 0) from else bodyEnd
      distinctOn.map { case (o, c) => (o + 1, c, "on") }.toVector ++
        argRanges(sql, spans, itemsStart, itemsEnd).map { case (a, b) => (a, b, "item") } ++
        (if (from >= 0) Vector((from, bodyEnd, "body")) else Vector.empty) ++
        clauses.map { case (a, textStart, k) => (textStart, regionEnd(a), k) }
    }
    def region(kind: String): Option[(Int, Int)] =
      regions.find(_._3 == kind).map(r => (r._1, r._2))
    /** The select items as written. */
    def itemTexts: Seq[String] = regions.collect { case (a, b, "item") => sql.substring(a, b) }

    /** Whether sql[a, b) calls a window function. */
    def hasWindow(a: Int, b: Int): Boolean =
      "(?i)\\bOVER\\s*\\(".r.findAllMatchIn(java.nio.CharBuffer.wrap(sql, a, b))
        .exists(m => spans.outside(a + m.start))

    /** A site over `[from, to)` whose holes are this scope's regions
      * inside it, except the kinds in `skip`.
      */
    def site(from: Int = start, to: Int = end, skip: Set[String] = Set.empty)(
        build: Parts => String): Site = {
      val holes = regions.filter { case (a, b, k) => a >= from && b <= to && !skip(k) }
      new Site(from, to, holes.map(r => (r._1, r._2)), texts => {
        val byKind = holes.map(_._3).zip(texts.map(t => lineSafe(t.trim)))
        def one(k: String) = byKind.collectFirst { case (`k`, t) => t }
        Some(build(Parts(byKind.collect { case ("item", t) => t }, one("body").getOrElse(""),
          one("pred"), one("keys"), one("page"), one("pipes"), one("on"))))
      })
    }

    /** The replacement text for this scope: `core` (its SELECT and pipe
      * operators) followed by its ORDER BY and paging as pipe operators
      * (a pipe cannot follow a statement-level ORDER BY or LIMIT) and by
      * its existing pipes. A pipe binds to everything on its left, so a
      * set-operation arm is parenthesized; in the last arm, the ORDER BY
      * and paging belong to the combined result and stay after the arm.
      */
    def emit(p: Parts, core: String): String = {
      val pipes = p.pipes.fold("")(" " + _)
      if (armBefore && !armAfter)
        s"($core$pipes)" + p.keys.fold("")(" ORDER BY " + _) + p.page.fold("")(" " + _)
      else {
        val out = core + p.keys.fold("")(" |> ORDER BY " + _) +
          p.page.fold("")(" |> " + _) + pipes
        if (armAfter) s"($out) " else out
      }
    }
  }

  /** `t` followed by a newline when it ends inside a `--` comment, so
    * that nothing appended after it is swallowed by the comment.
    */
  private def lineSafe(t: String): String =
    if (t.contains("--") && lex(t).all.lastOption.exists(sp =>
        sp.kind == SpanKind.Comment && sp.end == t.length && t.startsWith("--", sp.start) &&
          !t.endsWith("\n"))) t + "\n"
    else t

  /** Rewrite the SELECT scopes `siteOf` picks, over one lexing, when
    * `trigger` occurs in `sql` at all.
    */
  private def rewriteScopes(sql: String, trigger: String, qualifyClause: Boolean = false)(
      siteOf: Sel => Option[Site]): String =
    if (("(?i)" + trigger).r.findFirstIn(sql).isEmpty) sql
    else rewriteSites(sql) { spans =>
      val depth = depthAt(sql, spans)
      "(?i)\\bSELECT\\b".r.findAllMatchIn(sql).filter(m => spans.outside(m.start))
        .flatMap(m => siteOf(new Sel(sql, spans, depth, m.start, qualifyClause)))
    }

  private val StarItem = "(?s)^\\s*(?:[A-Za-z_][A-Za-z0-9_]*\\s*\\.\\s*)?\\*".r
  private def isStar(item: String): Boolean = StarItem.findFirstIn(item).isDefined
  private val Ordinal = "\\d+".r

  /** Sort keys `ord` for a window over the select `items`: each ordinal
    * becomes its item's expression (an integer inside OVER is a constant)
    * and, with `aliases`, a key naming a select alias its aliased
    * expression. None when an ordinal lands on or after a star item,
    * whose columns only the analyzer knows, or on an [[opaqueItem]].
    */
  private def windowKeys(ord: String, items: Seq[String], construct: String,
      aliases: Boolean): Option[String] = {
    val firstStar = items.indexWhere(isStar)
    if (sortKeys(ord).exists { k =>
        val e = splitSortSuffix(k)._1
        Ordinal.matches(e) && ((firstStar >= 0 && e.toInt > firstStar) ||
          items.lift(e.toInt - 1).exists(opaqueItem))
      }) None
    else {
      val resolved = resolveOrdinalSortKeys(ord, items, construct)
      Some(if (aliases) aliasKeys(resolved, items) else resolved)
    }
  }

  /** An item whose expression the text cannot separate from an alias
    * (`v + 1 d`): neither `AS`-aliased, nor a recognized implicit alias,
    * yet ending in a bare word after whitespace.
    */
  private def opaqueItem(item: String): Boolean = {
    val t = item.trim
    itemExpr(t) == t && "(?s).*\\s([A-Za-z_][A-Za-z0-9_]*)$".r.findFirstMatchIn(t)
      .exists(m => !ImplicitAliasStop.contains(m.group(1).toLowerCase))
  }

  /** The comma-separated keys of `ord`, trimmed. */
  private def sortKeys(ord: String): Seq[String] =
    splitArgs(ord, lex(ord), 0, ord.length).map(_.trim)

  /** `ord` with each ordinal key naming the generated column `colN` that
    * [[byPosition]] gives the (n+1)-th output column.
    */
  private def positionalKeys(ord: String): String = sortKeys(ord).map { k =>
    val (e, sfx) = splitSortSuffix(k)
    if (Ordinal.matches(e)) s"col${e.toInt - 1} $sfx".trim else k
  }.mkString(", ")

  /** Pipe operators that compute `cols` and apply `filter` over a query's
    * output by POSITION: `stack(1, *)` copies the output columns as
    * col0, col1, …, so an ordinal key resolves without knowing the names
    * behind a star, and `struct(*)` restores the columns afterwards.
    */
  private def byPosition(cols: String, filter: String): String =
    s" |> SELECT *, struct(*) AS __pos, stack(1, *) |> EXTEND $cols$filter |> SELECT __pos.*"

  /** `part` with the dialect's default null placement pinned when it
    * spells none: NULLS LAST both ways when `alwaysLast` (DuckDB,
    * ClickHouse, Trino), else nulls largest (last on ASC, first on DESC).
    */
  private def pinNulls(part: String, alwaysLast: Boolean): String =
    if ("(?is)\\bNULLS\\s+(FIRST|LAST)\\s*$".r.findFirstIn(part).isDefined) part
    else if ("(?is)\\bDESC\\s*$".r.findFirstIn(part).isDefined)
      part + (if (alwaysLast) " NULLS LAST" else " NULLS FIRST")
    else part + " NULLS LAST"

  /** `SELECT hints items body` with a row_number() per `part` ordered by
    * `ord` in column `col`, keeping the rows where `keep` holds — computed
    * in the SELECT itself, or over its output by position when an ordinal
    * sort key lands on a star item.
    */
  private def numbered(hints: String, items: Seq[String], body: String,
      part: String, ord: String, ordinals: Boolean, col: String, keep: String,
      construct: String, aliases: Boolean): String = {
    val select = s"SELECT $hints${items.mkString(", ")}"
    val keys =
      if (ordinals) windowKeys(ord, items, construct, aliases)
      else Some(if (aliases) aliasKeys(ord, items) else ord)
    keys match {
      case Some(o) =>
        s"$select, row_number() OVER (PARTITION BY $part ORDER BY $o) AS $col $body " +
          s"|> WHERE $keep |> DROP $col"
      case None =>
        s"$select $body" + byPosition(
          s"row_number() OVER (PARTITION BY $part ORDER BY ${positionalKeys(ord)}) AS $col",
          s" |> WHERE $keep")
    }
  }

  // ---- QUALIFY ------------------------------------------------------------

  /** `QUALIFY <pred>` (Snowflake/DuckDB/BigQuery/Teradata/Redshift — a
    * filter on window results; Spark has no such clause) → a pipe suffix
    * on the scope's own SELECT, in any scope (CTE bodies and subqueries
    * included):
    *
    *   - a predicate calling a window: `SELECT items, (pred) AS __qual
    *     FROM … |> WHERE __qual |> DROP __qual`. The window sees the
    *     unfiltered rows, exactly as QUALIFY's, and `pred` may name a
    *     select alias (Spark resolves lateral aliases);
    *   - a predicate over aliased window columns (`QUALIFY rn <= 3`):
    *     `SELECT items FROM … |> WHERE pred`.
    *
    * The select list is kept as written, so `*` needs no expansion.
    * QUALIFY evaluates before DISTINCT in Snowflake and DuckDB, so under
    * DISTINCT the SELECT drops the keyword and `|> SELECT DISTINCT *`
    * follows the filter. The scope's ORDER BY and paging become pipe
    * operators after it ([[Sel.emit]]).
    */
  private[graft] def rewriteQualify(sql: String): String =
    rewriteScopes(sql, "\\bQUALIFY\\b", qualifyClause = true) { sel =>
      sel.region("pred").map { case (a, b) =>
        if (sel.distinctOn.isDefined)
          throw new graft.UnsupportedError(
            "QUALIFY is not supported under SELECT DISTINCT ON (rewrite DISTINCT ON first)")
        val window = sel.hasWindow(a, b)
        sel.site() { p =>
          val pred = p.pred.get
          if (pred.isEmpty) throw new graft.UnsupportedError("QUALIFY requires a predicate")
          val select = s"SELECT ${sel.hints}${p.itemList}"
          val core =
            if (window) s"$select, ($pred) AS __qual ${p.body} |> WHERE __qual |> DROP __qual"
            else s"$select ${p.body} |> WHERE $pred"
          sel.emit(p, core + (if (sel.distinct) " |> SELECT DISTINCT *" else ""))
        }
      }
    }

  /** DuckDB `* EXCLUDE (cols)` / `* EXCLUDE col` → Spark `* EXCEPT (cols)`
    * (verified native in Spark 4). Only the star-adjacent keyword is
    * touched — the EXCEPT set operator never follows `*`.
    */
  private[graft] def rewriteExclude(sql: String): String = {
    if ("(?i)EXCLUDE".r.findFirstIn(sql).isEmpty) return sql
    val withParens = replaceOutside(sql, """(?i)\*\s*EXCLUDE\s*\(""".r)(_ => "* EXCEPT (")
    // bare single-column form: * EXCLUDE col
    replaceOutside(withParens, """(?i)\*\s*EXCLUDE\s+([A-Za-z_][A-Za-z0-9_]*)""".r)(
      m => s"* EXCEPT (${m.group(1)})")
  }

  /** Parse the items of a star-REPLACE list into (column, expr) pairs,
    * raising named errors for non-`expr AS col` items and for a
    * twice-replaced column (DuckDB/BigQuery reject both).
    */
  private def parseReplaceItems(items: Seq[String]): Seq[(String, String)] = {
    val pairs = items.map(_.trim).map { r =>
      "(?is)^(.*\\S)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)$".r
        .findFirstMatchIn(r) match {
        case Some(mm) => mm.group(2) -> mm.group(1)
        case None => throw new graft.UnsupportedError(
          s"* REPLACE items must be `expr AS col`, got: $r")
      }
    }
    pairs.map(p => nameKey(p._1)).groupBy(identity)
      .collectFirst { case (nm, vs) if vs.size > 1 => nm }
      .foreach(nm => throw new graft.UnsupportedError(
        s"* REPLACE names column $nm more than once"))
    pairs
  }

  /** Parse and check the EXCLUDE list of a star item — the paren list or
    * the bare single-column spelling — with DuckDB's checks that need no
    * schema: an empty entry, a non-bare name, a twice-excluded column.
    */
  private def parseStarExcludes(parenList: Option[String],
      bare: Option[String]): Seq[String] = {
    parenList.foreach { pl =>
      if (pl.split(",", -1).map(_.trim).exists(_.isEmpty))
        throw new graft.UnsupportedError(
          s"star EXCLUDE list has an empty entry (DuckDB rejects it): ($pl)")
    }
    val excludes = parenList.map(_.split(",").map(_.trim).toSeq)
      .orElse(bare.map(Seq(_))).getOrElse(Seq.empty)
    excludes.foreach { e =>
      if (!e.matches("[A-Za-z_][A-Za-z0-9_]*|`[^`]+`"))
        throw new graft.UnsupportedError(
          s"star EXCLUDE expects bare column names, got: $e")
    }
    excludes.map(nameKey).groupBy(identity)
      .collectFirst { case (nm, vs) if vs.size > 1 => nm }
      .foreach(nm => throw new graft.UnsupportedError(
        s"star EXCLUDE list names column $nm more than once"))
    excludes
  }

  private val StarClause = ("(?is)^\\s*(?:([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*)?\\*\\s*" +
    "(?:(?:EXCEPT|EXCLUDE)\\s*(?:\\(([^()]*)\\)|([A-Za-z_][A-Za-z0-9_]*)(?=\\s|$))\\s*)?" +
    "(REPLACE\\s*\\()?").r

  /** DuckDB/BigQuery `* REPLACE (expr AS col, …)` → `SELECT * … |> SET
    * col = expr`, which keeps every column in position, over any FROM.
    * A combined `* EXCLUDE (…) REPLACE (…)` (DuckDB's grammar order)
    * drops first: the star keeps Spark's native `* EXCEPT (…)`. A
    * qualified star with EXCLUDE, which Spark cannot parse, becomes
    * `t.*` followed by `|> DROP cols`; `t.* REPLACE` keeps `t.*`.
    *
    * Only a star that starts a select item is a star clause, so
    * `price * replace(name, 'a', 'b')` stays arithmetic over the
    * replace() string function. The checks that need no schema raise
    * named errors: a REPLACE item that is not `expr AS col`, a column
    * replaced or excluded twice, a replaced column the EXCLUDE list
    * drops, a `* REPLACE` over a join (the star covers both sides), and
    * a qualifier that is not the FROM relation's name. An unknown
    * replaced or excluded column is Spark's analyzer's error.
    */
  private[graft] def rewriteStarReplace(sql: String): String =
    rewriteScopes(sql, "\\*\\s*(?:EXCEPT|EXCLUDE|REPLACE)\\b") { sel =>
      def starOf(it: String) = StarClause.findFirstMatchIn(it).filter(m => m.group(4) != null ||
        (m.group(1) != null && (m.group(2) != null || m.group(3) != null)))
      if (!sel.itemTexts.exists(starOf(_).isDefined)) None
      else Some(sel.site() { p =>
        // each item with the pipe operators it needs
        val (items, pipes) = p.items.map { it =>
          starOf(it).fold((it, "")) { m =>
            val q = Option(m.group(1))
            val excludes = parseStarExcludes(Option(m.group(2)), Option(m.group(3)))
            val repls =
              if (m.group(4) == null) {
                if (!blankOrComment(it.substring(m.end)))
                  throw new graft.UnsupportedError(s"cannot rewrite this star clause: $it")
                Nil
              } else {
                val spans = lex(it)
                val close = matchParen(it, spans, m.end - 1)
                if (close < 0 || !blankOrComment(it.substring(close + 1)))
                  throw new graft.UnsupportedError(s"cannot rewrite this star REPLACE form: $it")
                val r = parseReplaceItems(splitArgs(it, spans, m.end, close))
                val dropped = excludes.map(nameKey).toSet
                r.find(x => dropped(nameKey(x._1))).foreach { x =>
                  throw new graft.UnsupportedError(
                    s"* EXCLUDE … REPLACE replaces column ${x._1} which the EXCLUDE list already drops")
                }
                checkStarRelation(p.body, q)
                r
              }
            val star = q.fold("*")(_ + ".*") +
              (if (q.isEmpty && excludes.nonEmpty) s" EXCEPT (${excludes.mkString(", ")})" else "")
            (star,
              (if (q.isDefined && excludes.nonEmpty) s" |> DROP ${excludes.mkString(", ")}" else "") +
                (if (repls.isEmpty) "" else
                  " |> SET " + repls.map { case (c, e) => s"$c = $e" }.mkString(", ")))
          }
        }.unzip
        sel.emit(p, s"SELECT ${sel.hints}${items.mkString(", ")} ${p.body}" +
          p.pred.fold("")(" QUALIFY " + _) + pipes.mkString +
          (if (sel.distinct) " |> SELECT DISTINCT *" else ""))
      })
    }

  /** Whether `t` holds nothing but whitespace and comments. */
  private def blankOrComment(t: String): Boolean = {
    val spans = lex(t)
    t.indices.forall(i => t.charAt(i).isWhitespace || spans.at(i).exists(_.kind == SpanKind.Comment))
  }

  /** The checks a `* REPLACE` makes on its FROM body without a schema:
    * a single relation, a table or a derived table (over a join the star
    * covers both sides), and a star qualifier that names it.
    */
  private def checkStarRelation(body: String, qualifier: Option[String]): Unit = {
    val at = prefixMatch("(?is)FROM\\s*".r, body, 0).fold(
      throw new graft.UnsupportedError("* REPLACE requires a FROM <table> at the same query level"))(_.end)
    val (table, after) =
      if (body.startsWith("(", at)) {
        val close = matchParen(body, lex(body), at)
        if (close < 0)
          throw new graft.UnsupportedError(s"unbalanced derived-table FROM after * REPLACE: $body")
        (None, close + 1)
      } else {
        val t = prefixMatch("(?s)(`[^`]+`|[A-Za-z_][A-Za-z0-9_.]*)".r, body, at).getOrElse(
          throw new graft.UnsupportedError("* REPLACE requires FROM <single table or (subquery)>"))
        (Some(t.group(1)), at + t.end)
      }
    val alias = aliasAt(body, after)
    val tail = body.substring(after + alias.fold(0)(_.end))
    if (!"(?is)\\s*((WHERE|GROUP|HAVING|WINDOW)\\b.*)?".r.matches(tail))
      throw new graft.UnsupportedError(
        "* REPLACE is supported only over a single FROM relation " +
          s"(over a join the star covers every side): $body")
    qualifier.foreach { qn =>
      val target = alias.map(_.group(1))
        .orElse(table.map(t => stripBacktick(t).split('.').last))
      if (!target.exists(qn.equalsIgnoreCase))
        throw new graft.UnsupportedError(
          s"qualified star $qn.* REPLACE: $qn does not resolve to the FROM relation" +
            target.fold("")(t => s" ($t)"))
    }
  }

  /** DuckDB/Postgres `SELECT DISTINCT ON (keys) items … ORDER BY ord`:
    * the first row per key set by ORDER BY, as a row_number per key set
    * kept at 1 — `SELECT items, row_number() OVER (PARTITION BY keys
    * ORDER BY ord) AS __rn FROM … |> WHERE __rn = 1 |> DROP __rn` — in
    * any scope. Without an ORDER BY the window orders by the keys (the
    * source engines pick an arbitrary row). The ORDER BY and paging
    * follow as pipe operators.
    */
  private[graft] def rewriteDistinctOn(sql: String): String =
    rewriteScopes(sql, "\\bDISTINCT\\s+ON\\b") { sel =>
      sel.distinctOn.map { _ =>
        sel.site() { p =>
          val keys = p.on.get
          val ord = p.keys.getOrElse(keys)
          sel.emit(p.copy(keys = Some(ord)), numbered(sel.hints, p.items, p.body, keys, ord,
            ordinals = p.keys.isDefined, "__rn", "__rn = 1", "DISTINCT ON", aliases = false))
        }
      }
    }

  /** `keys` with each key naming a select alias (`AS` or implicit)
    * replaced by the aliased expression, for a window in the same SELECT.
    */
  private def aliasKeys(keys: String, items: Seq[String]): String = {
    val aliasExpr = items.flatMap { it =>
      "(?is)^(.*\\S)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)$".r.findFirstMatchIn(it)
        .map(mm => mm.group(2).toLowerCase -> mm.group(1).trim)
        .orElse(implicitAlias(it).map { case (e, a) => a.toLowerCase -> e })
    }.toMap
    sortKeys(keys).map { part =>
      "(?s)^([A-Za-z_][A-Za-z0-9_]*)(.*)$".r.findFirstMatchIn(part) match {
        case Some(pm) if aliasExpr.contains(pm.group(1).toLowerCase) =>
          s"(${aliasExpr(pm.group(1).toLowerCase)})${pm.group(2)}"
        case _ => part
      }
    }.mkString(", ")
  }

  /** Sort keys under SELECT DISTINCT, each resolved to an output name:
    * an ordinal to its item's name, a name or alias to itself, a key
    * matching an item's expression to that item's name. Anything else
    * is unavailable after the distinct and raises, as in the source
    * dialects.
    */
  private def distinctKeys(keys: Seq[String], items: Seq[String], construct: String,
      ordinals: Boolean = true): Seq[String] = {
    val itemNames = items.map(itemName(_, construct))
    val resolveKey = distinctKeyResolver(items, itemNames, construct)
    keys.map { part =>
      val (e, sfx) = splitSortSuffix(part)
      val resolved =
        if (ordinals && Ordinal.matches(e)) {
          val i = e.toInt
          if (i < 1 || i > items.length)
            throw new graft.UnsupportedError(
              s"$construct ORDER BY position $i is not in the select list (1..${items.length})")
          guardDupOutputName(itemNames, construct, itemNames(i - 1))
        } else resolveKey(e).getOrElse(throw new graft.UnsupportedError(
          s"$construct with SELECT DISTINCT requires its keys and ORDER BY expressions " +
            s"to appear in the select list; cannot resolve: $e"))
      (resolved + " " + sfx).trim
    }
  }

  private val LimitByForms: Seq[(scala.util.matching.Regex, scala.util.matching.Regex.Match => (Long, Long))] =
    Seq(
      "(?is)LIMIT\\s+(\\d+)\\s*,\\s*(\\d+)\\s+BY\\b".r -> (m => (m.group(1).toLong, m.group(2).toLong)),
      "(?is)LIMIT\\s+(\\d+)\\s+OFFSET\\s+(\\d+)\\s+BY\\b".r -> (m => (m.group(2).toLong, m.group(1).toLong)),
      "(?is)LIMIT\\s+(\\d+)\\s+BY\\b".r -> (m => (0L, m.group(1).toLong)))

  /** The `LIMIT [offset,] n BY` clause at `at`: (match end, offset, n). */
  private def limitByAt(text: String, at: Int): Option[(Int, Long, Long)] =
    LimitByForms.iterator.flatMap { case (re, f) =>
      prefixMatch(re, text, at).map { m => val (o, n) = f(m); (at + m.end, o, n) }
    }.nextOption()

  /** ClickHouse `LIMIT [offset,] n BY keys` — the first `n` rows per key
    * set (after skipping `offset`) of the ORDER-BY-sorted stream, before
    * the trailing global LIMIT — as a row_number per key set in the
    * scope's own SELECT, in any scope: `SELECT items, row_number() OVER
    * (PARTITION BY keys ORDER BY ord) AS __lb FROM … |> WHERE __lb <= n
    * |> DROP __lb |> ORDER BY ord |> LIMIT m`. Without an ORDER BY the
    * window orders by the keys (a deterministic pick where ClickHouse's
    * is arbitrary) and no sort is added. Keys and sort keys naming a
    * select alias resolve to its expression inside the window.
    * SELECT DISTINCT composes: ClickHouse applies DISTINCT before ORDER
    * BY and LIMIT BY, so the window ranks the distinct output
    * (`|> EXTEND`) and every key resolves to an output name.
    */
  private[graft] def rewriteChLimitBy(sql: String): String =
    rewriteScopes(sql, "\\bLIMIT\\s+\\d+(?:\\s*,\\s*\\d+|\\s+OFFSET\\s+\\d+)?\\s+BY\\b") { sel =>
      sel.region("page").filter(r => limitByAt(sql, r._1).isDefined).map { _ =>
        sel.setOpAfter.foreach { op => throw new graft.UnsupportedError(
          s"LIMIT BY followed by a top-level $op clause is not supported") }
        if (sel.armBefore || sel.from < 0)
          throw new graft.UnsupportedError(s"cannot locate SELECT … FROM around LIMIT BY in: $sql")
        if (sel.distinctOn.isDefined)
          throw new graft.UnsupportedError("LIMIT BY under SELECT DISTINCT ON is not supported")
        sel.site() { p =>
          val page = p.page.get
          val (byEnd, off, n) = limitByAt(page, 0).get
          val spans = lex(page)
          val depth = depthAt(page, spans)
          val next = topLevelKeyword(page, spans, depth, "LIMIT", byEnd)
          val keysEnd = if (next >= 0) next else page.length
          // a clause after the keys would be swallowed into PARTITION BY;
          // each ender matches its clause shape, so a key named `format`
          // stays a key
          Seq("SETTINGS" -> "(?i)\\bSETTINGS\\s+[A-Za-z_][A-Za-z0-9_.]*\\s*=",
            "FORMAT" -> "(?is)\\bFORMAT\\s+[A-Za-z_][A-Za-z0-9_]*\\s*;?\\s*$").foreach { case (kw, re) =>
            if (re.r.findAllMatchIn(page).exists(mm => mm.start >= byEnd && mm.start < keysEnd &&
                depth(mm.start) == 0 && spans.outside(mm.start)))
              throw new graft.UnsupportedError(
                s"LIMIT BY followed by a top-level $kw clause is not supported")
          }
          val keys = page.substring(byEnd, keysEnd).trim
          if (keys.isEmpty)
            throw new graft.UnsupportedError("LIMIT BY requires at least one key expression")
          val tail = if (next >= 0) Some(page.substring(next).trim) else None
          val keep = if (off == 0L) s"__lb <= $n" else s"__lb > $off AND __lb <= ${off + n}"
          if (sel.distinct) {
            val construct = "LIMIT BY under SELECT DISTINCT"
            val dKeys = distinctKeys(sortKeys(keys), p.items, construct, ordinals = false).mkString(", ")
            val dOrd = p.keys.map(o => distinctKeys(sortKeys(o), p.items, construct).mkString(", "))
            sel.emit(p.copy(keys = dOrd, page = tail),
              s"SELECT ${sel.hints}DISTINCT ${p.itemList} ${p.body} |> EXTEND row_number() " +
                s"OVER (PARTITION BY $dKeys ORDER BY ${dOrd.getOrElse(dKeys)}) AS __lb " +
                s"|> WHERE $keep |> DROP __lb")
          } else
            sel.emit(p.copy(page = tail), numbered(sel.hints, p.items, p.body,
              aliasKeys(keys, p.items), p.keys.getOrElse(keys), ordinals = p.keys.isDefined,
              "__lb", keep, "LIMIT BY", aliases = true))
        }
      }
    }

  /** What a paging construct keeps: `n` rows (n percent of the rows when
    * `percent`, rounded up), with the rows tying the last one when
    * `ties`, after skipping `offset` rows. `pin` pins the dialect's
    * default null placement into a sort key.
    */
  private final case class Paging(n: String, percent: Boolean, ties: Boolean,
      offset: Option[String], construct: String, pin: String => String)

  /** The rows of `src`, a query without its ORDER BY, that `pg` keeps in
    * the order of `ord`, as pipe operators on the query: a rank
    * (row_number without ties) column, a filter, `|> DROP`, and
    * `|> ORDER BY ord`. With `own` (the SELECT's hint, items and body,
    * when the query is one plain SELECT) the window is computed in that
    * SELECT, where its keys may name input columns, aggregates and
    * select aliases; otherwise `|> EXTEND` ranks the output, and under
    * DISTINCT (`distinct` with the select `items`) every key resolves to
    * an output name. Ordinal keys resolve to their items; an ordinal the
    * text cannot resolve (on a star, or over a set operation) ranks the
    * output by position ([[byPosition]]).
    *
    * Spark's InferWindowGroupLimit turns the `__wt <= n` filter above the
    * rank into a per-partition group limit, which keeps the plain forms
    * scale-safe (PlanCheck pins the WindowGroupLimit node).
    *
    * `OFFSET m … WITH TIES` keeps rows m+1..m+n plus every row tying row
    * m+n: `row_number > m AND rank <= (max rank among row_number <=
    * m+n)`, over a frame pre-filtered to `rank <= m+n`. PERCENT counts
    * the rows with `count(*) OVER ()` and keeps `CEILING(count * n /
    * 100.0)` (+ m), the base being the rows before the offset. A literal
    * zero count keeps no rows (`|> LIMIT 0`): there is no last row to tie
    * with.
    */
  private def rankRows(src: String, own: Option[(String, Seq[String], String)],
      items: Seq[String], distinct: Boolean, ord: String, pg: Paging,
      spark: Option[SparkSession]): String = {
    val n = pg.n
    val outKeys =
      if (distinct && !items.exists(isStar)) distinctKeys(sortKeys(ord), items, pg.construct)
      else sortKeys(ord)
    val outer = outKeys.map(pg.pin).mkString(", ")
    val ownKeys = own.flatMap { case (_, its, _) => windowKeys(ord, its, pg.construct, aliases = true) }
    if (n.matches("\\d+(?:\\.\\d+)?") && n.toDouble == 0.0) return s"$src |> LIMIT 0"
    val rankFn = if (pg.ties) "rank()" else "row_number()"
    // window columns, filter operators and dropped columns for keys `k`,
    // `count` naming the column that holds the percent base
    def member(k: String, count: String): (Seq[String], String, Seq[String]) = {
      val base = if (pg.percent) s"CEILING($count * ($n) / 100.0)" else n
      val lim = pg.offset.fold(base)(o => s"(($o) + $base)")
      val tiesAfterOffset = pg.offset.isDefined && pg.ties
      val cols = s"$rankFn OVER (ORDER BY $k) AS __wt" +:
        (if (tiesAfterOffset) Seq(s"row_number() OVER (ORDER BY $k) AS __wtn") else Nil)
      val filter = pg.offset match {
        case None => s" |> WHERE __wt <= $lim"
        case Some(o) if !pg.ties => s" |> WHERE __wt > ($o) AND __wt <= $lim"
        case Some(o) =>
          s" |> WHERE __wt <= $lim |> EXTEND max(CASE WHEN __wtn <= $lim THEN __wt END) " +
            s"OVER () AS __wtcut |> WHERE __wtn > ($o) AND __wt <= __wtcut"
      }
      (cols, filter, "__wt" +: (if (tiesAfterOffset) Seq("__wtn", "__wtcut") else Nil))
    }
    def counted(k: String): (String, String, String) = {
      val (cols, filter, drop) = member(k, "__wtc")
      if (!pg.percent) (cols.mkString(", "), filter, drop.mkString(", "))
      else ((cols :+ "count(*) OVER () AS __wtc").mkString(", "), filter, (drop :+ "__wtc").mkString(", "))
    }
    val sorted = s" |> ORDER BY $outer"
    /* Scale-safe PERCENT plan. The plain percent plan ranks every row
     * through one unpartitioned window, because the cutoff is not a
     * literal. This plan first computes the exact row count plus an
     * approx_percentile cutoff on the LEADING sort key at n% + 2% slack
     * (one broadcast stats row), then pre-filters the relation to the
     * cutoff's side below the exact rank window. It stays exact: the
     * runtime guard `CEILING(cnt*n/100) <= FLOOR(nonnull*(n/100+0.02-
     * 0.005))` enables pruning only when the slack (50x the sketch's
     * rank error) covers the cut, NULL keys always survive, and rows
     * tying the boundary share its leading key. A DISTINCT or set-op
     * source is ranked as a derived table, whose two references AQE
     * computes once (ReusedExchange, pinned in PlanGateSpec).
     */
    def scalePlan(s: SparkSession, srcItems: String, srcBody: String,
        parsed: Seq[(String, String)]): Option[String] = {
      val (k1, sfx1) = parsed.head
      // the leading key's type decides whether the sketch applies: the one
      // analysis this rewrite runs (gates: EngineSpec "percent forms run
      // the pre-filtered scale plan and stay exact", PlanGateSpec's
      // distinct-percent test)
      val sketchable =
        try {
          import org.apache.spark.sql.types._
          s.sql(s"SELECT ($k1) AS __psk $srcBody").schema.head.dataType match {
            case _: NumericType | DateType | TimestampType | TimestampNTZType => true
            case _ => false
          }
        } catch { case _: Exception => false }
      if (!sketchable || !n.matches("\\d+(?:\\.\\d+)?")) return None
      val asc = "(?i)\\bDESC\\b".r.findFirstIn(sfx1).isEmpty
      val pEff = math.min(1.0, n.toDouble / 100.0 + 0.02)
      def lit(d: Double): String =
        java.lang.String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
      val target = lit(if (asc) pEff else math.max(0.0, 1.0 - pEff))
      val guar = lit(math.max(0.0, pEff - 0.005))
      val keyCols = parsed.zipWithIndex.map { case ((e, _), i) => s"($e) AS __pk$i" }.mkString(", ")
      val winOrd = parsed.zipWithIndex.map { case ((_, sfx), i) => s"__pk$i $sfx".trim }.mkString(", ")
      val need = s"CEILING(__ws.__pn * ($n) / 100.0)"
      val (cols, filter, drop) = member(winOrd, "__pn")
      Some(s"SELECT /*+ BROADCAST(__ws) */ __wb.*, __ws.__pn " +
        s"FROM ( SELECT $srcItems, $keyCols $srcBody ) __wb " +
        s"CROSS JOIN ( SELECT count(*) AS __pn, count(__psk) AS __pn1, " +
        s"approx_percentile(__psk, $target, 10000) AS __pcut " +
        s"FROM ( SELECT ($k1) AS __psk $srcBody ) __wsrc ) __ws " +
        s"WHERE ${pg.offset.fold(need)(o => s"(($o) + $need)")} > FLOOR(__ws.__pn1 * $guar) " +
        s"OR __wb.__pk0 IS NULL OR __wb.__pk0 ${if (asc) "<=" else ">="} __ws.__pcut" +
        s" |> EXTEND ${cols.mkString(", ")}$filter |> DROP " +
        (drop ++ ("__pn" +: parsed.indices.map(i => s"__pk$i"))).mkString(", ") + sorted)
    }
    val scaled = if (!pg.percent) None else spark.flatMap { s =>
      val (srcItems, srcBody, keys) = (own, ownKeys) match {
        case (Some((hint, its, body)), Some(wk)) =>
          (hint + its.mkString(", "), body, sortKeys(wk).map(pg.pin))
        case _ => ("__wtq.*", s"FROM ( $src ) __wtq", outKeys.map(pg.pin))
      }
      if (keys.exists(k => Ordinal.matches(splitSortSuffix(k)._1))) None
      else scalePlan(s, srcItems, srcBody, keys.map(splitSortSuffix))
    }
    scaled.getOrElse((own, ownKeys) match {
      case (Some((hint, its, body)), Some(wk)) =>
        val (cols, filter, drop) = counted(sortKeys(wk).map(pg.pin).mkString(", "))
        s"SELECT $hint${its.mkString(", ")}, $cols $body$filter |> DROP $drop$sorted"
      case _ if outKeys.exists(k => Ordinal.matches(splitSortSuffix(k)._1)) =>
        val (cols, filter, _) = counted(positionalKeys(outer))
        src + byPosition(cols, filter) + sorted
      case _ =>
        val (cols, filter, drop) = counted(outer)
        s"$src |> EXTEND $cols$filter |> DROP $drop$sorted"
    })
  }

  /** `SELECT TOP n …` / `SELECT TOP (n) …` (T-SQL, Snowflake, Teradata)
    * → `… LIMIT n` at the end of that SELECT's scope, in any scope.
    * T-SQL's clause order is SELECT [DISTINCT] TOP n, so DISTINCT applies
    * first. `TOP n WITH TIES` and `TOP n PERCENT [WITH TIES]` keep the
    * rows [[rankRows]] keeps over the statement's ORDER BY (required);
    * PERCENT rounds the row count up, and n may be fractional only with
    * PERCENT. A QUALIFY in the scope (Teradata, `qualifyClause`) filters
    * before the rank, so the rank then follows as `|> EXTEND`, after
    * the later QUALIFY rewrite's own pipes.
    *
    * SET-OPERATION ARMS: `SELECT TOP 10 … UNION ALL SELECT TOP 10 …`
    * binds each TOP to its own arm in T-SQL/Teradata, so an arm-scoped
    * TOP wraps its arm in parentheses. An ORDER BY before a set-op
    * keyword is a T-SQL syntax error and raises; a trailing ORDER BY
    * after the last arm sorts the combined result and stays outside the
    * wrapped arm. TOP n PERCENT in an arm keeps `CEILING(count * n /
    * 100)` of the arm's rows with no row choice specified (ORDER BY is
    * illegal inside an arm): a row_number over the arm's own output
    * columns, taken together as `struct(*)`, makes the pick
    * deterministic as a multiset, which the gate's oracle replays (gate:
    * op_dialect_tsql_setop_top_percent). `TOP … WITH TIES` in an arm
    * raises: it needs an ORDER BY.
    *
    * `minusIsSetOp`: MINUS is a set operator in Teradata and Snowflake;
    * in T-SQL it is an identifier, so a MINUS spelled as a set
    * operation after a TOP raises there. `allowPercentTies = false`
    * (Snowflake) rejects the T-SQL-only PERCENT and WITH TIES.
    */
  private[graft] def rewriteTsqlTop(sql: String,
      spark: Option[SparkSession] = None,
      allowPercentTies: Boolean = true,
      qualifyClause: Boolean = false,
      minusIsSetOp: Boolean = false): String =
    rewriteScopes(sql, "\\bTOP\\b", qualifyClause) { sel =>
      sel.top.map { case (n, isPercent, isTies) =>
        if (!allowPercentTies && (isPercent || isTies))
          throw new graft.UnsupportedError(
            "TOP " + (if (isPercent) "PERCENT" else "WITH TIES") +
              " is a T-SQL spelling this dialect's own parser rejects " +
              "(Snowflake TOP takes a bare row count)")
        if (!isPercent && n.contains('.'))
          throw new graft.UnsupportedError("TOP with a fractional count requires PERCENT")
        if (!minusIsSetOp && sel.setOpAfter.contains("MINUS"))
          throw new graft.UnsupportedError(
            "MINUS as a set operation is not supported on this dialect's chain " +
              "(spell it EXCEPT) — a TOP cannot be scoped against it")
        if (sel.armAfter && sel.region("keys").isDefined)
          throw new graft.UnsupportedError(
            "ORDER BY inside a set-operation arm is not supported " +
              "(T-SQL/Teradata reject it too — use a derived table to order an arm's TOP)")
        if (!qualifyClause && sel.qualifyWord && (isPercent || isTies))
          throw new graft.UnsupportedError(
            "TOP " + (if (isPercent) "PERCENT" else "WITH TIES") + " combined with QUALIFY " +
              "is not supported on this dialect's chain (QUALIFY is not a clause here)")
        val isArm = sel.armBefore || sel.armAfter
        if (isArm && isTies)
          throw new graft.UnsupportedError(
            "TOP WITH TIES in a set-operation arm is not supported: WITH TIES " +
              "requires an ORDER BY, which T-SQL rejects inside an arm — use a derived table")
        sel.site() { p =>
          val select = "SELECT " + sel.hints + (if (sel.distinct) "DISTINCT " else "") +
            p.itemList + " " + p.body + p.pred.fold("")(" QUALIFY " + _)
          // the last arm's ORDER BY sorts the combined result
          val sortAll = p.keys.fold(if (sel.armAfter) " " else "")(" ORDER BY " + _)
          if (isArm) {
            if (!isPercent || n.toDouble == 0) s"($select LIMIT ${if (isPercent) 0 else n})$sortAll"
            else s"(${armPercent(select, n, qualifyClause)})$sortAll"
          } else if (!isPercent && !isTies) {
            if (p.page.isDefined)
              throw new graft.UnsupportedError("TOP combined with LIMIT/OFFSET/FETCH is not supported")
            s"$select$sortAll LIMIT $n" + p.pipes.fold("")(" " + _)
          }
          else {
            val construct = if (isPercent) "TOP PERCENT" else "TOP WITH TIES"
            val ord = p.keys.getOrElse(throw new graft.UnsupportedError(
              s"$construct requires an ORDER BY"))
            // T-SQL sorts nulls smallest, Spark's own default: no pin
            rankRows(select,
              if (sel.distinct || p.pred.isDefined) None else Some((sel.hints, p.items, p.body)),
              p.items, sel.distinct, ord, Paging(n, isPercent, isTies, None, construct, identity),
              spark)
          }
        }
      }
    }

  /** A set-operation arm `select` keeping CEILING(count * n / 100) of its
    * rows, ranked by all of its output columns: a struct of them sorts
    * field by field, nulls first, like `ORDER BY c1, c2, …`, and needs
    * none of their names. A QUALIFY in the arm filters before the rank.
    */
  private def armPercent(select: String, n: String, qualifyClause: Boolean): String =
    (if (qualifyClause) rewriteQualify(select) else select) +
      " |> EXTEND struct(*) AS __tpk" +
      " |> EXTEND row_number() OVER (ORDER BY __tpk) AS __tprn, count(*) OVER () AS __tpct" +
      s" |> WHERE __tprn <= CEILING(__tpct * $n / 100.0) |> DROP __tpk, __tprn, __tpct"

  /** ANSI/Postgres `ORDER BY … [OFFSET m ROWS] FETCH FIRST n ROWS WITH
    * TIES` (Postgres, Oracle, Trino) → [[rankRows]], with the dialect's
    * null placement pinned (nulls largest, or NULLS LAST both ways with
    * `nullsAlwaysLast` for Trino). The count is optional (`FETCH FIRST
    * ROW` is 1). A literal OFFSET right before the FETCH becomes the
    * rank's skip. At any level: over one SELECT the window lives in it;
    * over a set operation, or a query already ending in pipe operators,
    * the ORDER BY may name only output columns (Postgres's scope rule)
    * and `|> EXTEND` ranks the combined result.
    */
  private[graft] def rewriteFetchFirstWithTies(sql: String,
      nullsAlwaysLast: Boolean = false): String =
    rewriteFetch(sql,
      "(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+(?:(\\d+)\\s+)?ROWS?\\s+WITH\\s+TIES\\b".r, None) { m =>
      Paging(Option(m.group(1)).getOrElse("1"), percent = false, ties = true, None,
        "WITH TIES", pinNulls(_, nullsAlwaysLast))
    }

  /** Oracle-12c/ANSI `[OFFSET m ROWS] FETCH FIRST n PERCENT ROWS
    * ONLY|WITH TIES` → [[rankRows]]'s percent cutoff: `CEILING(count *
    * n / 100.0)` rows (Oracle rounds up; the base is every selected row,
    * before the offset), row_number for ONLY and rank for WITH TIES, with
    * Oracle's nulls-largest placement pinned. n may be fractional.
    * `spark` serves the scale plan's leading-key type probe only.
    */
  private[graft] def rewriteFetchFirstPercent(sql: String,
      spark: Option[SparkSession] = None): String =
    rewriteFetch(sql, ("(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+(\\d+(?:\\.\\d+)?)\\s+PERCENT\\s+" +
      "ROWS?\\s+(ONLY|WITH\\s+TIES)\\b").r, spark) { m =>
      Paging(m.group(1), percent = true, ties = !m.group(2).equalsIgnoreCase("ONLY"), None,
        "FETCH PERCENT", pinNulls(_, alwaysLast = false))
    }

  /** The FETCH clauses `re` matches, each rewritten with its query. */
  private def rewriteFetch(sql: String, re: scala.util.matching.Regex,
      spark: Option[SparkSession])(paging: scala.util.matching.Regex.Match => Paging): String =
    if (re.findFirstIn(sql).isEmpty) sql
    else rewriteSites(sql) { spans =>
      val depth = depthAt(sql, spans)
      re.findAllMatchIn(sql).filter(m => spans.outside(m.start)).map { m =>
        val pg0 = paging(m)
        val d = depth(m.start)
        val (qs, qe) = enclosingParen(sql, spans, m.start).fold((0, sql.length)) {
          case (o, c) => (o + 1, c) }
        if ((m.end until qe).exists(i => spans.outside(i) && !sql.charAt(i).isWhitespace))
          throw new graft.UnsupportedError(
            s"${pg0.construct} must end the statement, got trailing: ${sql.substring(m.end, qe).trim}")
        val marks = "(?i)\\b(SELECT|ORDER\\s+BY|OFFSET|UNION|INTERSECT|EXCEPT|MINUS)\\b|\\|>".r
          .findAllMatchIn(java.nio.CharBuffer.wrap(sql, qs, m.start))
          .map(x => (qs + x.start, qs + x.end,
            Option(x.group(1)).fold("|>")(_.toUpperCase.split("\\s+").head)))
          .filter { case (a, _, _) => depth(a) == d && spans.outside(a) }.toVector
        val order = marks.lastIndexWhere(_._3 == "ORDER")
        if (order < 0)
          throw new graft.UnsupportedError(s"${pg0.construct} requires an ORDER BY")
        val (orderStart, keysStart, _) = marks(order)
        val offset = marks.drop(order + 1).find(_._3 == "OFFSET").map { case (a, _, _) =>
          val om = prefixMatch("(?i)OFFSET\\s+(\\d+)(?:\\s+ROWS?)?".r, sql, a).getOrElse(
            throw new graft.UnsupportedError(
              s"OFFSET combined with ${pg0.construct} requires a literal row count"))
          // the literal must be the whole clause: `OFFSET 1 + 4` would
          // otherwise leave `+ 4` among the sort keys
          if (sql.substring(a + om.end, m.start).trim.stripSuffix("|>").trim.nonEmpty)
            throw new graft.UnsupportedError(
              s"OFFSET combined with ${pg0.construct} requires a literal row count " +
                s"immediately before the FETCH clause, got: ${sql.substring(a, m.start).trim}")
          (a, om.group(1))
        }
        val pg = pg0.copy(offset = offset.map(_._2))
        val keysEnd = offset.fold(m.start)(_._1)
        // a pipe ORDER BY (`… |> ORDER BY k |> FETCH …`) ends the query at its pipe
        val queryEnd = marks.lift(order - 1)
          .filter(x => x._3 == "|>" && sql.substring(x._2, orderStart).trim.isEmpty)
          .fold(orderStart)(_._1)
        val before = marks.filter(_._1 < queryEnd)
        val setOp = before.exists { case (a, _, k) =>
          Set("UNION", "INTERSECT", "EXCEPT", "MINUS")(k) && prefixMatch(SetOpArm, sql, a).isDefined &&
            { val p = prevToken(sql, spans, a); p < 0 || sql.charAt(p) != '*' }
        }
        val selects = before.filter(_._3 == "SELECT")
        def keysOf(t: String) = t.trim.stripSuffix("|>").trim
        if (!setOp && !before.exists(_._3 == "|>") && selects.size == 1) {
          val sel = new Sel(sql, spans, depth, selects.head._1, qualifyClause = false)
          sel.site(to = qe, skip = Set("page", "pipes", "pred")) { p =>
            val select = "SELECT " + sel.hints + (if (sel.distinct) "DISTINCT " else "") +
              p.itemList + " " + p.body
            rankRows(select, if (sel.distinct) None else Some((sel.hints, p.items, p.body)),
              p.items, sel.distinct, keysOf(p.keys.getOrElse("")), pg, spark)
          }
        } else
          new Site(qs, qe, Seq((qs, queryEnd), (keysStart, keysEnd)),
            t => Some(rankRows(lineSafe(t(0).trim), None, Nil, distinct = false,
              keysOf(t(1)), pg, spark)))
      }
    }

  // ---- Snowflake constructs -----------------------------------------------

  /** Normalize a Snowflake date-part argument: optionally quoted, many
    * abbreviations (dd, mon, yyyy …) per Snowflake's docs.
    */
  private def snowPart(arg: String, fn: String): String = {
    val p = arg.stripPrefix("'").stripSuffix("'").toLowerCase
    val canon = Map(
      "day" -> "day", "d" -> "day", "dd" -> "day", "dayofmonth" -> "day",
      "week" -> "week", "w" -> "week", "wk" -> "week",
      "month" -> "month", "mm" -> "month", "mon" -> "month",
      "quarter" -> "quarter", "q" -> "quarter", "qtr" -> "quarter",
      "year" -> "year", "y" -> "year", "yy" -> "year", "yyyy" -> "year",
      "hour" -> "hour", "hh" -> "hour",
      "minute" -> "minute", "mi" -> "minute",
      "second" -> "second", "s" -> "second", "ss" -> "second")
    canon.getOrElse(p,
      throw new graft.UnsupportedError(s"$fn date part '$p' is not supported"))
  }

  /** Snowflake `DATEADD(part, n, expr)`. day/week/month/quarter/year keep
    * DATE inputs DATE (date_add/add_months), sub-day parts go through
    * `timestampadd`.
    */
  /** Spark spelling of part-wise date addition — shared by the Snowflake
    * and T-SQL DATEADD rewrites (identical (part, n, expr) signature and
    * calendar semantics in both dialects).
    */
  private def dateAddExpr(part: String, n: String, x: String): String =
    part match {
      case "day" => s"date_add($x, ($n))"
      case "week" => s"date_add($x, 7 * ($n))"
      case "month" => s"add_months($x, ($n))"
      case "quarter" => s"add_months($x, 3 * ($n))"
      case "year" => s"add_months($x, 12 * ($n))"
      case sub => s"timestampadd(${sub.toUpperCase}, ($n), $x)"
    }

  private[graft] val snowDateAdd: Calls = Calls("dateadd") { (fn, args) =>
    if (args.length != 3)
      throw new graft.UnsupportedError(s"$fn expects (part, n, expr)")
    Some(dateAddExpr(snowPart(args(0), fn), args(1), args(2)))
  }

  /** Count of `part` boundaries crossed from `start` to `end` — Snowflake's
    * and BigQuery's DATEDIFF/DATE_DIFF semantics (2 months minus 1 day is
    * still 2 month boundaries), NOT Spark `timestampdiff`'s complete
    * intervals. Exact calendar arithmetic, no epoch math. `dayFn` picks
    * which Spark spelling (`date_diff` vs `datediff`) to emit. `weekAnchor`
    * is a day-1-of-week date far in the past (proleptic 0001-01-01 is a
    * Monday) so the DIV 7 never sees a negative dividend.
    */
  private def boundaryDateDiff(part: String, start: String, end: String,
      weekAnchor: String, dayFn: String): String =
    part match {
      case "day" => s"$dayFn(($end), ($start))"
      case "week" =>
        s"(($dayFn(($end), DATE '$weekAnchor') DIV 7) - ($dayFn(($start), DATE '$weekAnchor') DIV 7))"
      case "month" =>
        s"((year($end) * 12 + month($end)) - (year($start) * 12 + month($start)))"
      case "quarter" =>
        s"((year($end) * 4 + quarter($end)) - (year($start) * 4 + quarter($start)))"
      case "year" => s"(year($end) - year($start))"
      case sub =>
        throw new graft.UnsupportedError(s"date part '$sub' is not supported in DATEDIFF")
    }

  /** Snowflake `DATEDIFF(part, start, end)` (boundary crossings; weeks start
    * Monday — Snowflake's WEEK_START=0 ISO-like default).
    */
  private[graft] val snowDateDiff: Calls = Calls("datediff") { (fn, args) =>
    if (args.length != 3)
      throw new graft.UnsupportedError(s"$fn expects (part, start, end)")
    Some(boundaryDateDiff(snowPart(args(0), fn), args(1), args(2), "0001-01-01", "date_diff"))
  }

  /** Snowflake date format elements → Java pattern, longest token first
    * (HH24 before HH, MON before MM). Unknown letters raise.
    */
  private[graft] def translateSnowflakeFormat(fmt: String): String = {
    val tokens = Seq(
      "YYYY" -> "yyyy", "YY" -> "yy", "MON" -> "MMM", "MM" -> "MM",
      "DY" -> "EEE", "DD" -> "dd", "HH24" -> "HH", "HH12" -> "hh",
      "HH" -> "HH", "MI" -> "mm", "SS" -> "ss", "AM" -> "a", "PM" -> "a")
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(_.isLetter)) out.append('\'').append(s.replace("'", "''")).append('\'')
      else out.append(s.replace("'", "''"))
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      tokens.find { case (t, _) => fmt.regionMatches(true, i, t, 0, t.length) } match {
        case Some((t, j)) => flush(); out.append(j); i += t.length
        case None =>
          val c = fmt.charAt(i)
          if (c.isLetter)
            throw new graft.UnsupportedError(s"TO_VARCHAR format element '$c' is not supported")
          lit.append(c); i += 1
      }
    }
    flush()
    out.toString
  }

  /** Snowflake `TO_VARCHAR(x)` → CAST AS STRING; `TO_VARCHAR(x, 'fmt')` →
    * `date_format` with the translated pattern (date/timestamp formats only;
    * numeric picture formats raise).
    */
  private[graft] val toVarchar: Calls = Calls("to_varchar") { (fn, args) =>
    args match {
      case Seq(x) => Some(s"CAST($x AS STRING)")
      case Seq(x, SingleLiteral(f)) =>
        val java = translateSnowflakeFormat(f)
        Some(s"date_format($x, '${java.replace("'", "''")}')")
      case _ =>
        throw new graft.UnsupportedError(s"$fn expects (expr) or (expr, 'format')")
    }
  }

  // ---- BigQuery constructs ------------------------------------------------

  /** BigQuery `FORMAT_DATE('%Y-%m', d)` / `FORMAT_TIMESTAMP` — C strftime
    * codes with the format FIRST → `date_format(d, javaPattern)`.
    */
  private[graft] val formatDate: Calls = Calls("format_date|format_timestamp") { (fn, args) =>
    args match {
      case Seq(SingleLiteral(f), x) =>
        val java = translateStrftimeFormat(f)
        Some(s"date_format($x, '${java.replace("'", "''")}')")
      case _ =>
        throw new graft.UnsupportedError(s"$fn expects ('format', expr)")
    }
  }

  /** BigQuery `DATE_DIFF(end, start, PART)` — note end-first argument order
    * and the trailing unquoted part; boundary-crossing semantics like
    * Snowflake's DATEDIFF (weeks start Sunday, BigQuery's WEEK default —
    * proleptic 0001-01-07 is a Sunday).
    */
  private[graft] val bqDateDiff: Calls = Calls("date_diff|timestamp_diff") { (fn, args) =>
    if (args.length != 3)
      throw new graft.UnsupportedError(s"$fn expects (end, start, part)")
    Some(boundaryDateDiff(snowPart(args(2), fn), args(1), args(0), "0001-01-07", "datediff"))
  }

  // ---- MySQL constructs ---------------------------------------------------

  /** MySQL date format codes → Java pattern. NOT the C strftime table:
    * `%i` is minutes (strftime `%M`), `%M` is the month NAME, `%s`/`%S` are
    * both seconds, `%c`/`%e` are unpadded month/day. Unknown codes raise.
    */
  private[graft] def translateMysqlFormat(fmt: String): String = {
    val codes = Map(
      'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'c' -> "M",
      'd' -> "dd", 'e' -> "d", 'H' -> "HH", 'k' -> "H",
      'h' -> "hh", 'I' -> "hh", 'i' -> "mm", 's' -> "ss", 'S' -> "ss",
      'p' -> "a", 'M' -> "MMMM", 'b' -> "MMM", 'a' -> "EEE", 'W' -> "EEEE",
      'j' -> "DDD", 'f' -> "SSSSSS", 'T' -> "HH:mm:ss", 'r' -> "hh:mm:ss a")
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(_.isLetter)) out.append('\'').append(s.replace("'", "''")).append('\'')
      else out.append(s.replace("'", "''"))
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val code = fmt.charAt(i + 1)
        if (code == '%') { lit.append('%'); i += 2 }
        else {
          flush()
          out.append(codes.getOrElse(code,
            throw new graft.UnsupportedError(s"MySQL format code %$code is not supported")))
          i += 2
        }
      } else { lit.append(c); i += 1 }
    }
    flush()
    out.toString
  }

  private val MysqlCodeRe = """%[A-Za-z]""".r

  /** `DATE_FORMAT(x, 'fmt')` → `date_format` through the MySQL %-code
    * table — INCLUDING %-free literal formats, whose characters are
    * ALL literal in MySQL ("any other characters are copied without
    * interpretation"): the translator quotes them for Spark's pattern
    * language, where a pass-through would read them as pattern letters
    * and silently emit the year for 'yyyy'. `STR_TO_DATE(s, 'fmt')` →
    * `to_date`, or `to_timestamp` when the format carries time codes
    * (MySQL's DATE-vs-DATETIME result typing); a %-free parse format
    * has no fields to extract and raises, as does any non-literal
    * format (untranslatable at rewrite time — silently wrong either
    * way).
    */
  private[graft] val mysqlDateFns: Calls = Calls("date_format|str_to_date") { (fn, args) =>
    args match {
      case Seq(x, SingleLiteral(f)) =>
        val java = translateMysqlFormat(f).replace("'", "''")
        if (fn.equalsIgnoreCase("str_to_date")) {
          if (MysqlCodeRe.findFirstIn(f).isEmpty)
            throw new graft.UnsupportedError(
              s"STR_TO_DATE format '$f' has no %-codes — nothing to parse")
          val hasTime =
            MysqlCodeRe.findAllIn(f).exists(m => "HkhIisSTrf".contains(m.charAt(1)))
          val target = if (hasTime) "to_timestamp" else "to_date"
          Some(s"$target($x, '$java')")
        } else Some(s"date_format($x, '$java')")
      case Seq(_, other) => throw new graft.UnsupportedError(
        s"$fn format must be a string literal, got: $other")
      case _ => throw new graft.UnsupportedError(s"$fn expects (expr, 'format')")
    }
  }

  /** `GROUP_CONCAT([DISTINCT] x [ORDER BY …] [SEPARATOR 'sep'])` →
    * `listagg([DISTINCT] x, 'sep') [WITHIN GROUP (ORDER BY …)]` (Spark 4
    * native). Default separator is `,` (MySQL's). Multiple exprs
    * (`GROUP_CONCAT(a, b)` concatenation form) are not shimmed — raise.
    */
  private[graft] val groupConcat: Calls = Calls("group_concat") { (fn, args) =>
    if (args.length != 1)
      throw new graft.UnsupportedError(
        s"$fn with multiple expressions is not supported; use CONCAT_WS inside it")
    val arg = args.head
    val spans = lex(arg)
    val depth = depthAt(arg, spans)
    def find(re: String): Option[scala.util.matching.Regex.Match] =
      re.r.findAllMatchIn(arg).find(m => depth(m.start) == 0 && spans.outside(m.start))
    val sepM = find("""(?i)\bSEPARATOR\b""")
    val ordM = find("""(?i)\bORDER\s+BY\b""")
    val sep = sepM match {
      case Some(m) => arg.substring(m.end).trim match {
        case SingleLiteral(lit) => lit
        case other => throw new graft.UnsupportedError(
          s"$fn SEPARATOR must be a string literal, got: $other")
      }
      case None => ","
    }
    val exprEnd = Seq(ordM.map(_.start), sepM.map(_.start)).flatten
      .sorted.headOption.getOrElse(arg.length)
    val expr = arg.substring(0, exprEnd).trim
    if (expr.isEmpty) throw new graft.UnsupportedError(s"$fn requires an expression")
    val ord = ordM.map(m => arg.substring(m.end,
      sepM.map(_.start).filter(_ > m.end).getOrElse(arg.length)).trim)
    val sepLit = "'" + sep.replace("'", "''") + "'"
    Some(s"listagg($expr, $sepLit)" + ord.map(o => s" WITHIN GROUP (ORDER BY $o)").getOrElse(""))
  }

  /** MySQL `LIMIT offset, count` → `LIMIT count OFFSET offset`. The
    * comma form only occurs in a LIMIT clause, so the token rewrite is
    * unambiguous at any nesting depth.
    */
  private[graft] val rewriteMysqlLimit: Pass =
    tokens("""(?i)\bLIMIT\s+(\d+)\s*,\s*(\d+)""".r)(
      m => s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")

  /** MySQL `LOCATE(substr, str)` → Spark `instr(str, substr)` (swapped
    * argument order, same 1-based / 0-when-absent contract). The 3-argument
    * start-position form has no Spark builtin — raise.
    */
  private[graft] val mysqlLocate: Calls = Calls("locate") { (fn, args) =>
    args match {
      case Seq(sub, str) => Some(s"instr($str, $sub)")
      case _ => throw new graft.UnsupportedError(
        s"$fn expects (substr, str); the 3-argument form is not supported")
    }
  }

  // ---- READ_CSV table function --------------------------------------------

  private val ReadCsvRe =
    ("""(?i)READ_CSV\(\s*'([^']+)'(?:\s*,\s*'delimiter'\s*,\s*'([^']*)')?\s*\)""" +
      """(?:\s+AS\s+(\w+))?""").r

  /** Replace each READ_CSV(...) with a temp view over `spark.read.csv`.
    * Header row mirrors the reference's pandas read (executor.py:290-308).
    * A schema declared for the view's alias (the reference's `schemas`
    * argument, executor.py:303-305) is applied directly — the CSV is read
    * ONCE with the declared types and no inference pass; without one,
    * `inferSchema` scans the file at planning time (the pandas-equivalent
    * behavior). View registration happens after matching — no side effects
    * inside the regex replace. The CSV scan stays a distributed Spark
    * source — filters/pruning still push into it.
    */
  private[graft] def rewriteReadCsv(spark: SparkSession, sql: String,
      schemas: Map[String, StructType] = Map.empty): String = {
    var n = 0
    val pending = Seq.newBuilder[(String, String, String, Option[StructType])]
    val rewritten = ReadCsvRe.replaceAllIn(sql, { m =>
      val path = m.group(1)
      val delim = Option(m.group(2)).getOrElse(",")
      val alias = Option(m.group(3))
      n += 1
      val view = alias.getOrElse(s"__read_csv_$n")
      pending += ((view, path, delim, alias.flatMap(schemas.get)))
      // keep the alias binding intact for the surrounding SQL
      java.util.regex.Matcher.quoteReplacement(
        view + alias.map(a => s" AS $a").getOrElse(""))
    })
    pending.result().foreach { case (view, path, delim, schema) =>
      val reader = spark.read.option("header", "true").option("sep", delim)
      val df = schema match {
        case Some(st) => reader.schema(st).csv(path)
        case None => reader.option("inferSchema", "true").csv(path)
      }
      df.createOrReplaceTempView(view)
    }
    rewritten
  }

  // ---- SQLite-ish helpers -------------------------------------------------

  /** `strftime('C codes', expr)` — format first (SQLite argument order) —
    * → `date_format(expr, 'java pattern')` via the shared strftime table.
    */
  private[graft] val sqliteStrftime: Calls = Calls("strftime") { (_, args) =>
    args match {
      case Seq(SingleLiteral(f), x) =>
        Some(s"date_format(${x.trim}, " +
          s"'${translateStrftimeFormat(f).replace("'", "''")}')")
      case _ => throw new graft.UnsupportedError(
        "SQLite strftime expects ('format', expr)")
    }
  }

  /** `expr GLOB 'pattern'` → `expr RLIKE '^regex$'`: `*` → `.*`, `?` →
    * `.`, everything else regex-quoted. Anchored because GLOB matches the
    * whole string where RLIKE searches. Only the literal-pattern form is
    * supported (a computed pattern can't be translated statically).
    *
    * Runs after the [[prelude]], so the captured literal text
    * is already Spark-escaped (backslashes doubled, quotes as `''`): the
    * pattern is first UNESCAPED back to its actual characters, translated
    * to a regex, then RE-ESCAPED for Spark's parser — without the
    * round-trip a generated `\.` would reach Spark's literal parser,
    * which drops unknown escapes, and the dot would match any character.
    */
  private[graft] val rewriteSqliteGlob: Pass =
    tokens("""(?i)\bGLOB\s*'((?:[^'\\]|''|\\.)*)'""".r) { m =>
      val pat = m.group(1).replace("\\\\", "\\").replace("''", "'")
      val rx = new StringBuilder("^")
      pat.foreach {
        case '*' => rx.append(".*")
        case '?' => rx.append('.')
        case c if "\\.[]{}()<>+-=!$|^".contains(c) => rx.append('\\').append(c)
        case c => rx.append(c)
      }
      rx.append('$')
      "RLIKE '" + rx.toString.replace("\\", "\\\\").replace("'", "''") + "'"
    }

  // ---- Postgres-ish helpers ----------------------------------------------

  /** Postgres TO_CHAR template patterns → Java date pattern. Longest match
    * first (HH24 before HH12 before bare HH — Postgres HH is an alias for
    * HH12; Month before Mon before MM … order matters only for same-prefix
    * templates). Unknown alphabetic patterns raise.
    */
  private[graft] def translatePgFormat(fmt: String): String = {
    val templates = Seq(
      "HH24" -> "HH", "HH12" -> "hh", "HH" -> "hh",
      "Month" -> "MMMM", "Mon" -> "MMM",
      "YYYY" -> "yyyy", "YY" -> "yy", "MM" -> "MM", "DDD" -> "DDD",
      "DD" -> "dd", "Day" -> "EEEE", "Dy" -> "EEE", "MI" -> "mm",
      "SS" -> "ss", "MS" -> "SSS", "AM" -> "a", "PM" -> "a", "TZ" -> "z")
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(_.isLetter)) out.append('\'').append(s.replace("'", "''")).append('\'')
      else out.append(s)
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      templates.find { case (pg, _) => fmt.startsWith(pg, i) } match {
        case Some((pg, java)) => flush(); out.append(java); i += pg.length
        case None =>
          val c = fmt.charAt(i)
          if (c.isLetter)
            throw new graft.UnsupportedError(
              s"Postgres TO_CHAR pattern not supported at '$c' in '$fmt'")
          lit.append(c); i += 1
      }
    }
    flush()
    out.toString
  }

  /** `TO_CHAR(x, 'templates')` → `date_format(x, 'java pattern')`. A
    * non-literal format raises (translating it would need runtime info).
    */
  private[graft] val pgToChar: Calls = Calls("to_char") { (_, args) =>
    args match {
      case Seq(x, SingleLiteral(f)) =>
        Some(s"date_format($x, '${translatePgFormat(f).replace("'", "''")}')")
      case _ =>
        throw new graft.UnsupportedError("TO_CHAR format must be a string literal")
    }
  }

  // ---- Oracle-ish helpers --------------------------------------------------

  /** `DECODE(expr, search1, result1[, search2, result2]…[, default])` →
    * `CASE WHEN (expr) <=> (search1) THEN (result1) … ELSE (default) END`.
    * Null-safe `<=>` because Oracle DECODE treats two NULLs as a match —
    * plain CASE equality would silently drop those branches.
    */
  private[graft] val oracleDecode: Calls = Calls("decode") { (_, args) =>
    if (args.length < 3)
      throw new graft.UnsupportedError(
        "DECODE needs at least (expr, search, result)")
    val x = args.head
    val rest = args.tail
    val groups = rest.grouped(2).toSeq
    val (pairs, default) =
      if (rest.length % 2 == 0) (groups, None)
      else (groups.init, Some(groups.last.head))
    val whens = pairs.map(p => s"WHEN ($x) <=> (${p(0)}) THEN (${p(1)})")
      .mkString(" ")
    Some(s"CASE $whens${default.map(d => s" ELSE ($d)").getOrElse("")} END")
  }

  /** `TO_DATE(x, 'templates')` → `to_date(x, 'java pattern')` via the
    * shared Oracle/Postgres template table. The 1-argument form and
    * formats that are already Java patterns (translation is identity or
    * fails on lowercase letters) pass through untouched.
    */
  private[graft] val oracleToDate: Calls = Calls("to_date") { (_, args) =>
    args match {
      case Seq(x, SingleLiteral(f)) =>
        val t = try translatePgFormat(f)
                catch { case _: graft.UnsupportedError => f }
        if (t == f) None
        else Some(s"to_date($x, '${t.replace("'", "''")}')")
      case _ => None
    }
  }

  /** Trailing `WHERE ROWNUM <= n` (or `< n`) → `LIMIT n` (`n−1`). Any
    * other ROWNUM reference raises: Oracle assigns ROWNUM BEFORE ORDER
    * BY, which no declarative plan reproduces — fail fast rather than
    * return differently-ordered rows.
    */
  private[graft] val rewriteOracleRownum: Pass = pass { (sql, spans) =>
    val tail = """(?i)\bWHERE\s+ROWNUM\s*(<=|<)\s*(\d+)\s*$""".r
    tail.findFirstMatchIn(sql).filter(m => spans.outside(m.start)) match {
      case Some(m) =>
        val n = m.group(2).toLong
        Iterator(new Site(m.start, sql.length, Nil,
          _ => Some(s"LIMIT ${if (m.group(1) == "<") n - 1 else n}")))
      case None =>
        """(?i)\bROWNUM\b""".r.findAllMatchIn(sql)
          .find(m => spans.outside(m.start)).foreach { _ =>
            throw new graft.UnsupportedError(
              "ROWNUM is only supported as a trailing 'WHERE ROWNUM <= n'; " +
                "use ORDER BY ... LIMIT for top-k")
          }
        Iterator.empty
    }
  }

  // ---- T-SQL-ish helpers --------------------------------------------------

  /** Normalize a T-SQL date-part argument (SQL Server's abbreviation set:
    * `yy`/`yyyy`, `qq`/`q`, `mm`/`m`, `wk`/`ww`, `dd`/`d`, `hh`,
    * `mi`/`n`, `ss`/`s`). Unknown parts raise.
    */
  private def tsqlPart(arg: String, fn: String): String = {
    val p = arg.stripPrefix("'").stripSuffix("'").toLowerCase
    val canon = Map(
      "year" -> "year", "yy" -> "year", "yyyy" -> "year",
      "quarter" -> "quarter", "qq" -> "quarter", "q" -> "quarter",
      "month" -> "month", "mm" -> "month", "m" -> "month",
      "week" -> "week", "wk" -> "week", "ww" -> "week",
      "day" -> "day", "dd" -> "day", "d" -> "day",
      "hour" -> "hour", "hh" -> "hour",
      "minute" -> "minute", "mi" -> "minute", "n" -> "minute",
      "second" -> "second", "ss" -> "second", "s" -> "second")
    canon.getOrElse(p,
      throw new graft.UnsupportedError(s"$fn date part '$p' is not supported"))
  }

  /** `CONVERT(type, expr)` → `CAST(expr AS type)` with SQL Server type
    * names mapped to Spark's (`NVARCHAR`→STRING, `DATETIME`→TIMESTAMP,
    * `BIT`→BOOLEAN, `FLOAT`→DOUBLE, `MONEY`→DECIMAL(19,4)). The optional
    * third style argument controls T-SQL's locale-dependent date
    * FORMATTING — there is no Spark cast equivalent, so it raises.
    */
  private[graft] val tsqlConvert: Calls = Calls("convert") { (fn, args) =>
    if (args.length != 2)
      throw new graft.UnsupportedError(
        s"$fn expects (type, expr); style arguments are not supported")
    Some(s"CAST(${args(1)} AS ${tsqlType(args(0), fn)})")
  }

  private def tsqlType(raw: String, fn: String): String = {
    val m = """(?i)^([A-Za-z]+)\s*(\(\s*\d+(?:\s*,\s*\d+)?\s*\))?$""".r
      .findFirstMatchIn(raw.trim)
      .getOrElse(throw new graft.UnsupportedError(
        s"$fn type '$raw' is not supported"))
    val parens = Option(m.group(2)).map(_.replaceAll("\\s", "")).getOrElse("")
    m.group(1).toUpperCase match {
      case "NVARCHAR" | "VARCHAR" | "NCHAR" | "CHAR" | "TEXT" => "STRING"
      case "DATETIME" | "DATETIME2" | "SMALLDATETIME" => "TIMESTAMP"
      case "BIT" => "BOOLEAN"
      case "FLOAT" => "DOUBLE" // T-SQL FLOAT defaults to float(53) = binary64
      case "REAL" => "FLOAT"
      case "MONEY" => "DECIMAL(19,4)"
      case "NUMERIC" | "DECIMAL" => "DECIMAL" + parens
      case t @ ("INT" | "INTEGER" | "BIGINT" | "SMALLINT" | "TINYINT" | "DATE") => t
      case other => throw new graft.UnsupportedError(
        s"$fn type '$other' is not supported")
    }
  }

  /** T-SQL `DATEADD(part, n, expr)` — same signature and calendar
    * behavior as Snowflake's, different part-abbreviation set.
    */
  private[graft] val tsqlDateAdd: Calls = Calls("dateadd") { (fn, args) =>
    if (args.length != 3)
      throw new graft.UnsupportedError(s"$fn expects (part, n, expr)")
    Some(dateAddExpr(tsqlPart(args(0), fn), args(1), args(2)))
  }

  /** T-SQL `DATEDIFF(part, start, end)` — boundary crossings like
    * Snowflake/BigQuery, but weeks roll at SUNDAY (SQL Server's default
    * `@@DATEFIRST = 7`): the week anchor is a Sunday (proleptic
    * 0001-01-07) where Snowflake's is a Monday.
    */
  private[graft] val tsqlDateDiff: Calls = Calls("datediff") { (fn, args) =>
    if (args.length != 3)
      throw new graft.UnsupportedError(s"$fn expects (part, start, end)")
    Some(boundaryDateDiff(tsqlPart(args(0), fn), args(1), args(2), "0001-01-07", "date_diff"))
  }

  /** T-SQL/ANSI paging: `OFFSET n ROWS [FETCH NEXT|FIRST m ROWS ONLY]` →
    * `LIMIT m OFFSET n` (or bare `OFFSET n`, which Spark parses
    * natively). The clause is trailing-positional in both dialects, so a
    * textual swap is exact.
    */
  private[graft] def rewriteTsqlOffsetFetch(sql: String): String = {
    if ("(?i)\\bOFFSET\\b".r.findFirstIn(sql).isEmpty) return sql
    val re = ("""(?i)\bOFFSET\s+(\d+)\s+ROWS?""" +
      """(?:\s+FETCH\s+(?:NEXT|FIRST)\s+(\d+)\s+ROWS?\s+ONLY)?""").r
    // comment-blanked scan / original splice, like [[rewriteFetchFirst]]
    // (r18 review): an OFFSET…FETCH inside a comment must not splice,
    // and a comment between the clause's tokens must not hide it
    val blanked = blankComments(sql)
    val spans = lex(blanked)
    val out = new StringBuilder
    var last = 0
    re.findAllMatchIn(blanked).filter(m => spans.outside(m.start)).foreach { m =>
      val repl =
        if (m.group(2) != null) s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}"
        else s"OFFSET ${m.group(1)}"
      out.append(sql.substring(last, m.start)).append(repl)
      last = m.end
    }
    out.append(sql.substring(last))
    out.toString
  }

  /** T-SQL `DATEPART(part, expr)` → the matching Spark extraction
    * function. `week` raises: T-SQL numbers weeks from January 1st
    * (DATEFIRST-dependent), which matches neither `weekofyear` (ISO) nor
    * any other Spark builtin — fail fast rather than be subtly off by
    * one for half the year.
    */
  private[graft] val tsqlDatePart: Calls = Calls("datepart") { (fn, args) =>
    if (args.length != 2)
      throw new graft.UnsupportedError(s"$fn expects (part, expr)")
    tsqlPart(args(0), fn) match {
      case "week" => throw new graft.UnsupportedError(
        "DATEPART(week, …) has DATEFIRST-dependent numbering with no Spark equivalent")
      case p => Some(s"$p(${args(1)})")
    }
  }

  /** Postgres regex-match operators: ` ~ ` → ` RLIKE `, ` !~ ` →
    * ` NOT RLIKE ` (whitespace-delimited binary form only — a unary `~`
    * is Spark's bitwise NOT and is left alone; literal spans untouched).
    */
  private[graft] val rewritePgRegexMatch: Pass =
    tokens("""(?<=\s)(!~|~)(?=\s)""".r)(
      m => if (m.group(1) == "!~") "NOT RLIKE" else "RLIKE")

  /** Postgres EXTRACT fields that differ from Spark's same-named ones:
    * `EPOCH` → `unix_timestamp(x)` (second precision — the integral
    * part of Postgres' fractional epoch); `DOW` numbers Sunday = 0
    * where Spark's extract DOW alias is Sunday = 1 (a silent off-by-one
    * without this rewrite) → `(dayofweek(x) - 1)`; `ISODOW` (Monday = 1
    * … Sunday = 7) → Spark's `DAYOFWEEK_ISO`. Other EXTRACT fields are
    * Spark-native and left alone.
    */
  private[graft] val pgExtractEpoch: Calls = Calls("extract") { (_, args) =>
    args match {
      case Seq(one) =>
        val m = """(?is)^\s*(EPOCH|ISODOW|DOW)\s+FROM\s+(.+)$""".r.findFirstMatchIn(one)
        m.map { g =>
          val x = g.group(2)
          g.group(1).toUpperCase match {
            case "EPOCH" => s"unix_timestamp($x)"
            case "DOW" => s"(dayofweek($x) - 1)"
            case _ => s"extract(DAYOFWEEK_ISO FROM $x)"
          }
        }
      case _ => None
    }
  }

  /** Postgres `string_agg(x, sep ORDER BY …)` — the inline ORDER BY
    * form Spark's parser rejects — → `listagg(x, sep) WITHIN GROUP
    * (ORDER BY …)` (Spark 4 native). The ORDER BY is located outside
    * string literals, so a separator literal containing the words stays
    * a separator. The plain 2-argument form is Spark-native `string_agg`
    * and passes through.
    */
  private[graft] val pgStringAgg: Calls = Calls("string_agg") { (_, args) =>
    args match {
      // a multi-key ORDER BY splits at its top-level commas, so rejoin
      // everything after the expression before locating the clause
      case x +: restParts if restParts.nonEmpty =>
        val rest = restParts.mkString(", ")
        val spans = lex(rest)
        """(?i)\bORDER\s+BY\b""".r.findAllMatchIn(rest)
          .find(m => spans.outside(m.start))
          .map { m =>
            val sep = rest.substring(0, m.start).trim
            val ord = rest.substring(m.end).trim
            s"listagg($x, $sep) WITHIN GROUP (ORDER BY $ord)"
          }
      case _ => None
    }
  }

  /** Postgres/DuckDB/BigQuery `ARRAY_AGG(x ORDER BY k1 [, k2 …]
    * [ASC|DESC])` (r13, multi-key + per-dialect nulls r14) — Spark's
    * array_agg takes no inline ORDER BY. Rewritten as a sort-key struct
    * collect: `transform(sort_array(collect_list(named_struct('__n0',
    * (k1) <probe>, '__o0', k1, …, '__v', x)), <asc>), s -> s.__v)` —
    * struct ordering compares field-by-field, so each key's leading
    * is-null boolean reproduces the DIALECT's default null placement:
    *  - ASC (both dialects default NULLS LAST): `(k) IS NULL` — false
    *    sorts before true, so NULL keys land last;
    *  - DESC, Postgres (`descNullsLast = false`, nulls FIRST on DESC):
    *    `(k) IS NULL` — true sorts first under the descending compare;
    *  - DESC, DuckDB (`descNullsLast = true`, NULLS LAST in BOTH
    *    directions): `(k) IS NOT NULL` — non-null rows carry true and
    *    sort first, NULL keys last.
    * The struct wrap also fixes collect_list's NULL-skipping: a NULL
    * VALUE rides inside a non-null struct, so it stays in the array
    * exactly as Postgres keeps it. Ties order deterministically by
    * (keys…, value) — a refinement of the dialects' unspecified tie
    * order. Explicit per-key `NULLS FIRST`/`NULLS LAST` (r14) overrides
    * the dialect default by flipping that key's probe polarity. The
    * ORDER BY detector is depth-guarded: an ORDER BY inside a
    * parenthesized subexpression (e.g. a scalar-subquery argument)
    * belongs to that subexpression, so the call passes through as a
    * plain unordered array_agg instead of splitting mid-expression.
    * Mixed ASC/DESC directions ride [[orderedCollectExpr]]'s
    * array_sort-comparator path and `DISTINCT x ORDER BY x` its
    * collect_set path (both r15); a DISTINCT sort key other than the
    * value itself stays a named fail-fast. Caveat: each
    * sort key is spliced into both its `__n` probe and its `__o` field,
    * so a NON-DETERMINISTIC key (e.g. random()) would evaluate twice
    * and could yield an inconsistent probe/key pair — sort keys must be
    * deterministic expressions.
    *
    * `skipNullValues` (Snowflake) drops NULL VALUES from the array.
    */
  private[graft] final case class Order(descNullsLast: Boolean, skipNullValues: Boolean = false)

  /** The `array_agg` entry. With `order`, a call whose argument holds a
    * top-level ORDER BY becomes [[Order]]'s sort-key struct collect; with
    * `keepNulls`, any other call (and a trailing OVER) becomes the
    * null-keeping collect ([[keepNullSite]]); with `withinGroup`, a
    * `WITHIN GROUP (ORDER BY …)` after the call moves inside it as an
    * inline ORDER BY (Snowflake's ordered-set spelling, r14), which
    * `order` then rewrites like one written inline. Targets array_agg
    * ONLY — LISTAGG/percentile WITHIN GROUP are Spark-native
    * pass-throughs. A WITHIN GROUP body without ORDER BY fails fast.
    */
  private[graft] final class ArrayAgg(order: Option[Order], keepNulls: Boolean = false,
      withinGroup: Boolean = false) extends Calls("array_agg")((_, _) => None) {
    override def site(sql: String, spans: Spans, c: Call): Option[Site] = {
      val within = if (!withinGroup) None
        else prefixMatch(WithinGroup, sql, c.close + 1).map { w =>
          val wOpen = c.close + w.end
          val wClose = matchParen(sql, spans, wOpen)
          if (wClose < 0)
            throw new graft.UnsupportedError(s"unbalanced WITHIN GROUP ( in: $sql")
          val ob = prefixMatch(OrderByPrefix, sql, wOpen + 1)
            .getOrElse(throw new graft.UnsupportedError(
              s"ARRAY_AGG WITHIN GROUP requires ORDER BY, got: ${sql.substring(wOpen + 1, wClose).trim}"))
          val args = argRanges(sql, spans, c.open + 1, c.close)
          new Site(c.start, wClose + 1, args ++ argRanges(sql, spans, wOpen + 1 + ob.end, wClose), { texts =>
            val (as, ks) = texts.splitAt(args.length)
            val inline = sql.substring(c.start, c.open + 1) + as.mkString(",") + " ORDER BY " +
              ks.mkString(",").trim + ")"
            Some(order.fold(inline) { o =>
              // the arguments as the inline spelling's: the last one
              // runs into the ORDER BY
              val parts = (as.init :+ (as.last + " ORDER BY " + ks.head)) ++ ks.tail
              orderedCollectExpr(c.name, parts.map(_.trim).mkString(", ").trim, o.descNullsLast,
                ascNullsFirst = false, o.skipNullValues).getOrElse(inline)
            })
          })
        }
      within.orElse(order.filter(_ => hasTopLevel(sql, spans, c.open + 1, c.close, OrderBy)).map { o =>
        new Site(c.start, c.close + 1, argRanges(sql, spans, c.open + 1, c.close), args =>
          orderedCollectExpr(c.name, args.map(_.trim).mkString(", ").trim, o.descNullsLast,
            ascNullsFirst = false, skipNullValues = o.skipNullValues))
      }).orElse(if (keepNulls) Some(keepNullSite(sql, spans, c)) else None)
    }
  }

  private val OrderBy = "(?i)\\bORDER\\s+BY\\b".r
  private val DistinctPrefix = "(?is)^DISTINCT\\s+(.*)$".r
  private val NullsSuffix = "(?is)\\bNULLS\\s+(FIRST|LAST)\\s*$".r
  private val NullsSuffixWs = "(?is)\\s+NULLS\\s+(FIRST|LAST)\\s*$".r
  private val DescSuffix = "(?is)\\bDESC\\s*$".r
  private val AscSuffix = "(?is)\\bASC\\s*$".r
  private val DirSuffixWs = "(?is)\\s+(ASC|DESC)\\s*$".r
  private val WithinGroup = "(?is)^\\s*WITHIN\\s+GROUP\\s*\\(".r
  private val OrderByPrefix = "(?is)^\\s*ORDER\\s+BY\\b".r

  /** Whether `re` matches in `sql[from, to)` outside the lexer's spans at
    * the paren depth of `from`.
    */
  private def hasTopLevel(sql: String, spans: Spans, from: Int, to: Int,
      re: scala.util.matching.Regex): Boolean = {
    var depth = 0
    var i = from
    re.findAllMatchIn(java.nio.CharBuffer.wrap(sql, from, to)).map(from + _.start).exists { p =>
      while (i < p) {
        if (spans.outside(i)) {
          val c = sql.charAt(i)
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
        }
        i += 1
      }
      depth == 0 && spans.outside(p)
    }
  }

  /** The range `[start, end)` of the window spec of a trailing `OVER
    * <(spec)|name>` starting at `from` (just after a call's closing
    * paren), or None when no OVER follows. A parenthesized spec is
    * matched balance-aware; a named-window reference is a single
    * identifier. The OVER keyword is word-bounded, so an implicit
    * select-item alias merely STARTING with "over" (e.g. `… overall
    * FROM`) is not consumed (r15 review fix — shared by the
    * windowed-FILTER and keep-null collect rewrites so the two cannot
    * drift).
    */
  private def overSpec(sql: String, spans: Spans, from: Int): Option[(Int, Int)] =
    prefixMatch("(?is)^\\s*OVER\\b\\s*".r, sql, from).map { om =>
      val p = from + om.end
      if (p < sql.length && sql.charAt(p) == '(') {
        val oc = matchParen(sql, spans, p)
        if (oc < 0)
          throw new graft.UnsupportedError(s"unbalanced OVER ( in: $sql")
        (p, oc + 1)
      } else {
        val id = prefixMatch("^[A-Za-z_][A-Za-z0-9_]*".r, sql, p)
          .getOrElse(throw new graft.UnsupportedError(
            s"cannot parse the window after OVER in: $sql"))
        (p, p + id.end)
      }
    }

  /** Postgres, Trino, and DuckDB all KEEP NULL elements in a bare
    * `array_agg(x)` where Spark's collect_list silently drops them (r14
    * ADVICE — probed against DuckDB: `array_agg(s)` over {a, NULL, c}
    * returns ["a", null, "c"]). The value rides inside a one-field
    * struct exactly like the ordered rewrite's, restoring the element:
    * `transform(collect_list(named_struct('__v', x)), s -> s.__v)`;
    * DISTINCT maps onto collect_set of the struct (struct equality is
    * null-safe, so ONE null element survives, as Postgres keeps it). A
    * trailing OVER composes by wrapping transform AROUND the window
    * expression, same shape as the FILTER rewrite's windowed collect.
    * Ordered calls are [[Order]]'s; calls already carrying another
    * rewrite's marker — the FILTER wrap's `'__f'` struct or a
    * raise_error guard — keep their exact null story and are left alone.
    */
  private def keepNullSite(sql: String, spans: Spans, c: Call): Site = {
    val over = overSpec(sql, spans, c.close + 1)
    new Site(c.start, over.fold(c.close + 1)(_._2),
      (c.open + 1, c.close) +: over.toSeq, { case arg0 +: spec =>
        val arg = arg0.trim
        val aSpans = lex(arg)
        val aDepth = depthAt(arg, aSpans)
        val hasOrder = OrderBy.findAllMatchIn(arg)
          .exists(mm => aDepth(mm.start) == 0 && aSpans.outside(mm.start))
        val marked = arg.contains("'__f'") ||
          "(?i)\\braise_error\\s*\\(".r.findFirstIn(arg).isDefined
        // a declined call keeps its text; a bare array_agg nested in
        // its argument (e.g. in a scalar-subquery argument) is still
        // rewritten, or it would resolve as collect_list and silently
        // drop NULL elements (r15 ADVICE)
        if (hasOrder || marked || arg.isEmpty ||
            splitArgs(arg, aSpans, 0, arg.length).length != 1) None
        else {
          val (collectFn, v) = "(?is)^DISTINCT\\s+(.*)$".r.findFirstMatchIn(arg)
            .map(mm => ("collect_set", mm.group(1).trim))
            .getOrElse(("collect_list", arg))
          val base = s"$collectFn(named_struct('__v', $v))"
          Some(spec.headOption.fold(s"transform($base, s -> s.__v)")(
            sp => s"transform($base OVER $sp, s -> s.__v)"))
        }
      })
  }

  /** Core of the inline-ordered array_agg rewrite: given the JOINED
    * argument text of ONE array_agg call (`expr ORDER BY k1 [, k2 …]`),
    * build the sort-key struct collect, or None when there is no
    * top-level ORDER BY (a plain array_agg passes through). The default
    * null placement is `ascNullsFirst`/`descNullsLast` per dialect:
    * Postgres/Snowflake sort nulls LARGEST (false/false), Trino and
    * DuckDB pin NULLS LAST both ways (false/true — Trino's documented
    * direction-independent default, corrected r16), BigQuery sorts
    * nulls SMALLEST (true/true). Three shapes (r15 closed the two former
    * fail-fasts):
    *  - uniform direction → `transform(sort_array(collect_list(struct),
    *    asc), s -> s.__v)` with per-key is-null probe booleans pinning
    *    the placement (unchanged from r13/r14);
    *  - MIXED ASC/DESC directions → `array_sort` with an explicit
    *    2-argument comparator: field-by-field CASE chains carrying each
    *    key's own direction and null placement (sort_array cannot mix,
    *    a comparator can). Ties break on the value ascending nulls-last
    *    — deterministic, a refinement of the dialects' unspecified tie
    *    order like the uniform path's;
    *  - `DISTINCT x ORDER BY x` (the only DISTINCT form Postgres allows
    *    without extending the DISTINCT list — key must equal the value,
    *    compared whitespace/case-insensitively) → the same struct sort
    *    over `collect_set` (struct equality is null-safe, so one NULL
    *    element survives exactly as Postgres keeps it). Any other
    *    DISTINCT sort key stays a named fail-fast.
    * `valueWrap` decorates the collected VALUE inside the struct (the
    * BigQuery wiring injects its raise-on-NULL-element guard there);
    * the skip-null probe tests the UNwrapped value.
    */
  private def orderedCollectExpr(fn: String, joined: String,
      descNullsLast: Boolean, ascNullsFirst: Boolean,
      skipNullValues: Boolean,
      valueWrap: String => String = identity): Option[String] = {
      val spans = lex(joined)
      val depth = depthAt(joined, spans)
      OrderBy.findAllMatchIn(joined)
        .find(m => depth(m.start) == 0 && spans.outside(m.start))
        .map { m =>
          val x0 = joined.substring(0, m.start).trim
          val ordAll = joined.substring(m.end).trim
          val (isDistinct, x) =
            DistinctPrefix.findFirstMatchIn(x0)
              .map(mm => (true, mm.group(1).trim)).getOrElse((false, x0))
          val xSpans = lex(x)
          if (x.isEmpty || splitArgs(x, xSpans, 0, x.length).length != 1)
            throw new graft.UnsupportedError(
              s"$fn takes exactly one aggregated expression, got: $x")
          val oSpans = lex(ordAll)
          // per key: `expr [ASC|DESC] [NULLS FIRST|LAST]`
          val keys = splitArgs(ordAll, oSpans, 0, ordAll.length).map(_.trim).map { k0 =>
            val explicitNullsLast =
              NullsSuffix.findFirstMatchIn(k0)
                .map(_.group(1).equalsIgnoreCase("LAST"))
            val k1 = NullsSuffixWs.replaceAllIn(k0, "").trim
            val dir =
              if (DescSuffix.findFirstIn(k1).isDefined) Some(false)
              else if (AscSuffix.findFirstIn(k1).isDefined) Some(true)
              else None
            (DirSuffixWs.replaceAllIn(k1, "").trim, dir, explicitNullsLast)
          }
          if (keys.isEmpty || keys.exists(_._1.isEmpty))
            throw new graft.UnsupportedError(
              s"$fn ORDER BY requires at least one sort key, got: $ordAll")
          // span-aware normalization (r18 seventh review: the plain
          // regex collapse conflated sort keys differing only inside a
          // string literal — a SILENT wrong guard pass here)
          def norm(s: String) = normalizeExprText(s)
          if (isDistinct && (keys.length != 1 || norm(keys.head._1) != norm(x)))
            throw new graft.UnsupportedError(
              s"$fn(DISTINCT x ORDER BY …) is only supported when the sort " +
                "key is x itself (the only form Postgres allows without " +
                "extending the DISTINCT list)")
          val collectFn = if (isDistinct) "collect_set" else "collect_list"
          // Snowflake's ARRAY_AGG SKIPS null values (Postgres/DuckDB/Trino
          // keep them): a null entry makes the collect drop the row
          def entryOf(struct: String): String =
            if (skipNullValues) s"CASE WHEN ($x) IS NULL THEN NULL ELSE $struct END"
            else struct
          // an unspecified direction is ASC (the SQL default)
          val dirs = keys.map(_._2.getOrElse(true)).distinct
          if (dirs.length == 1) {
            val asc = dirs.head
            val keyFields = keys.zipWithIndex.map { case ((k, _, explicitNulls), i) =>
              // requested placement: explicit NULLS FIRST/LAST wins, else
              // the dialect default per direction (see the param doc)
              val nullsLast =
                explicitNulls.getOrElse(if (asc) !ascNullsFirst else descNullsLast)
              // the probe bool must sort null keys to the requested end given
              // the one shared sort direction: IS NULL puts nulls last-on-ASC
              // / first-on-DESC; IS NOT NULL flips both
              val probe = if (nullsLast == asc) "IS NULL" else "IS NOT NULL"
              s"'__n$i', ($k) $probe, '__o$i', $k"
            }.mkString(", ")
            val struct = s"named_struct($keyFields, '__v', ${valueWrap(x)})"
            s"transform(sort_array($collectFn(${entryOf(struct)}), $asc), s -> s.__v)"
          } else {
            // mixed directions: one shared sort_array direction cannot
            // express them — array_sort's comparator carries each key's
            // own direction and null placement
            val oFields = keys.zipWithIndex
              .map { case ((k, _, _), i) => s"'__o$i', $k" }.mkString(", ")
            val struct = s"named_struct($oFields, '__v', ${valueWrap(x)})"
            val cmps = keys.zipWithIndex.map { case ((_, dirOpt, explicitNulls), i) =>
              val kAsc = dirOpt.getOrElse(true)
              val nullsLast =
                explicitNulls.getOrElse(if (kAsc) !ascNullsFirst else descNullsLast)
              val (nl, nr) = if (nullsLast) ("1", "-1") else ("-1", "1")
              val (lt, gt) = if (kAsc) ("-1", "1") else ("1", "-1")
              s"CASE WHEN l.__o$i IS NULL AND r.__o$i IS NULL THEN 0 " +
                s"WHEN l.__o$i IS NULL THEN $nl WHEN r.__o$i IS NULL THEN $nr " +
                s"WHEN l.__o$i < r.__o$i THEN $lt " +
                s"WHEN l.__o$i > r.__o$i THEN $gt ELSE 0 END"
            }
            val vCmp =
              "CASE WHEN l.__v IS NULL AND r.__v IS NULL THEN 0 " +
                "WHEN l.__v IS NULL THEN 1 WHEN r.__v IS NULL THEN -1 " +
                "WHEN l.__v < r.__v THEN -1 WHEN l.__v > r.__v THEN 1 ELSE 0 END"
            val cmpExpr = cmps.foldRight(s"($vCmp)") { (c, rest) =>
              s"CASE WHEN ($c) <> 0 THEN ($c) ELSE $rest END"
            }
            s"transform(array_sort($collectFn(${entryOf(struct)}), " +
              s"(l, r) -> $cmpExpr), s -> s.__v)"
          }
        }
    }

  /** BigQuery `ARRAY_AGG(x IGNORE NULLS [ORDER BY …] [LIMIT n])` (r14):
    * the IGNORE NULLS form maps onto the null-VALUE-skipping struct
    * collect with BIGQUERY's default null placement (nulls sort
    * SMALLEST — first-on-ASC/last-on-DESC, the opposite of Postgres);
    * a trailing `LIMIT n` truncates the SORTED result via
    * `slice(…, 1, n)`. Without ORDER BY the IGNORE NULLS call reduces
    * to plain `array_agg(x)` (Spark's collect_list already drops
    * nulls). BigQuery RAISES when the result array would contain a
    * NULL element, so every bare/RESPECT NULLS form — unordered (r14)
    * AND ordered (r15) — gets a `raise_error` guard reproducing that
    * runtime contract (a silent null-drop would diverge). The guard
    * placement follows the truncation rule (r16): with ORDER BY +
    * LIMIT it tests the FINAL sliced array (a NULL sorting outside the
    * LIMIT window succeeds, exactly BigQuery); without LIMIT it rides
    * on each collected value (equivalent, fails earlier); the
    * unordered-LIMIT form guards every value — conservative where
    * BigQuery's arbitrary truncation might have dropped the NULL, a
    * documented narrowing of an order-undefined contract.
    */
  private[graft] val bqArrayAgg: Calls = Calls("array_agg") { (fn, args) =>
    val joined = args.mkString(", ").trim
    val spans = lex(joined)
    val depth = depthAt(joined, spans)
    def topLevel(re: String): Option[scala.util.matching.Regex.Match] =
      re.r.findAllMatchIn(joined)
        .find(m => depth(m.start) == 0 && spans.outside(m.start))
    val limitM = topLevel("(?i)\\bLIMIT\\s+(\\d+)\\s*$")
    val core0 = limitM.map(m => joined.substring(0, m.start)).getOrElse(joined).trim
    val cSpans = lex(core0)
    val cDepth = depthAt(core0, cSpans)
    def inCore(re: String): Option[scala.util.matching.Regex.Match] =
      re.r.findAllMatchIn(core0)
        .find(m => cDepth(m.start) == 0 && cSpans.outside(m.start))
    val ign = inCore("(?i)\\bIGNORE\\s+NULLS\\b")
    ign match {
      case None =>
        // bare and RESPECT NULLS forms: BigQuery RAISES at runtime when
        // the result array would contain a NULL element (Spark's
        // collect_list would silently drop it) — a raise_error guard on
        // the VALUE reproduces the error contract exactly, in the plain
        // spelling AND inside the ordered struct collect (r15 — the
        // ordered bare form was a fail-fast before).
        val respect = inCore("(?i)\\bRESPECT\\s+NULLS\\b")
        val core = respect.map(r => (core0.substring(0, r.start) + " " +
          core0.substring(r.end)).trim).getOrElse(core0)
        def guard(v: String): String =
          s"CASE WHEN ($v) IS NULL THEN " +
            "raise_error('ARRAY_AGG: array cannot have a NULL element " +
            s"(BigQuery semantics); use $fn(x IGNORE NULLS)') ELSE $v END"
        // ordered + LIMIT: BigQuery raises only when the FINAL
        // (truncated) array contains a NULL element — a NULL sorting
        // outside the LIMIT window succeeds — so the guard moves
        // AFTER the slice instead of wrapping every collected value
        // (r15 ADVICE: the per-value guard over-raised on exactly
        // that case). The no-LIMIT ordered/plain forms keep the
        // per-value guard: without truncation the two are equivalent
        // and the per-value form fails earlier.
        orderedCollectExpr(fn, core, descNullsLast = true,
            ascNullsFirst = true, skipNullValues = false,
            valueWrap = if (limitM.isDefined) identity else guard) match {
          case Some(inner) =>
            Some(limitM.map { m =>
              val arr = s"slice($inner, 1, ${m.group(1)})"
              s"CASE WHEN exists($arr, __e -> __e IS NULL) THEN " +
                "raise_error('ARRAY_AGG: array cannot have a NULL element " +
                s"(BigQuery semantics); use $fn(x IGNORE NULLS)') ELSE $arr END"
            }.getOrElse(inner))
          case None =>
            val (prefix, v) = "(?is)^DISTINCT\\s+(.*)$".r.findFirstMatchIn(core)
              .map(mm => ("DISTINCT ", mm.group(1).trim)).getOrElse(("", core))
            val base = s"$fn($prefix${guard(v)})"
            // un-ordered LIMIT n truncates an arbitrary-order array —
            // BigQuery's own contract without ORDER BY
            Some(limitM.map(m => s"slice($base, 1, ${m.group(1)})")
              .getOrElse(base))
        }
      case Some(im) =>
        val core = (core0.substring(0, im.start) + " " + core0.substring(im.end)).trim
        // the no-ORDER-BY fallback is Spark's collect_list, which
        // array_agg aliases
        val inner = orderedCollectExpr(fn, core, descNullsLast = true,
          ascNullsFirst = true, skipNullValues = true)
          .getOrElse(s"collect_list($core)")
        Some(limitM.map(m => s"slice($inner, 1, ${m.group(1)})").getOrElse(inner))
    }
  }

  /** ANSI aggregate `FILTER (WHERE cond)` clause (SQL:2003 feature T612 —
    * Postgres/DuckDB/SQLite/Trino all ship it). Spark 4 parses the plain
    * aggregate form natively, but rejects it on window functions
    * ("Window aggregate function with filter predicate is not supported
    * yet" — probed on 4.1.2), which Postgres allows. The shim rewrites
    * every occurrence to the conditional-aggregate forms — semantically
    * identical, equally codegen'd, and uniform across the grouped and
    * windowed positions:
    *
    *  - `COUNT(*) FILTER (WHERE c)` → `count_if(c)` (FALSE and NULL
    *    conditions both excluded, matching FILTER row semantics)
    *  - single-argument aggregates wrap the value:
    *    `agg([DISTINCT] x) FILTER (WHERE c)` →
    *    `agg([DISTINCT] CASE WHEN c THEN x END)` — non-matching rows
    *    become NULL, which a NULL-SKIPPING aggregate ignores (a DISTINCT
    *    prefix stays outside the CASE; the extra NULL it could contribute
    *    is skipped the same way). The wrap is only applied to an
    *    allowlist of known null-skipping aggregates: Spark's
    *    `first`/`last`/`any_value` default to ignoreNulls=false, so the
    *    CASE wrap would silently return a non-matching row's NULL
    *    instead of the first matching value — those raise
    *    [[graft.UnsupportedError]] instead (correct-or-fail-fast)
    *  - value-plus-knob aggregates (`approx_count_distinct(x, rsd)`,
    *    `percentile_approx`/`approx_percentile`/`percentile(x, pct[,
    *    acc])`) wrap only the VALUE argument — the accuracy/percentage
    *    knobs are per-call constants, not per-row values
    *  - the two-column covariance/correlation/regression family wraps
    *    EVERY argument: those aggregates drop a row when any argument is
    *    NULL, so per-argument CASE is exactly row-level FILTER
    *  - `string_agg`/`listagg`/`group_concat` wrap only the value — the
    *    separator argument must stay a separator
    *  - the collect family (`array_agg`/`collect_list`/`collect_set`) in
    *    the GROUPED position wraps the value in a one-field struct
    *    (`transform(fn(CASE WHEN c THEN named_struct('__f', x) END),
    *    s -> s.__f)`, r14): FILTER dialects KEEP a matching row's NULL
    *    element, and the struct wrap preserves it while the filtered-out
    *    rows' null structs drop — the bare CASE wrap would conflate the
    *    two. The windowed position (r15) gets the SAME struct wrap with
    *    `transform` composed OVER the window expression (the OVER span —
    *    parenthesized spec or named window — is consumed into the
    *    rewrite), so a matching NULL element survives there too; the
    *    inline-ORDER-BY collect fails fast (no correct wrap exists)
    *
    * The rewrite is purely local to the call text, so a trailing window
    * `OVER (…)` composes unchanged (`sum(x) FILTER (WHERE c) OVER w` →
    * `sum(CASE WHEN c THEN x END) OVER w`), which is Postgres's window
    * FILTER semantics. Aggregates taking 2+ non-value arguments (e.g.
    * approx forms with accuracy knobs) are outside the shimmed surface
    * and raise rather than silently mis-wrap. `canon` is the
    * dialect's rename map, so an aggregate it spells differently
    * (DuckDB's `list`, Trino's `approx_distinct`) is rewritten under its
    * Spark name, and `emitted` the passes the aggregate call a site
    * emits still needs (a FILTER site covers its aggregate's call, so the
    * table's entry for it never sees the call).
    */
  /** Single-argument aggregates verified to SKIP NULL inputs on Spark
    * 4.1.2 — the precondition for [[rewriteAggFilter]]'s CASE-wrap being
    * exactly row-level FILTER. Deliberately NOT "everything but
    * first/last": an unknown aggregate fails fast rather than betting on
    * its NULL behavior.
    */
  private val NullSkippingAggs: Set[String] = Set(
    "count", "sum", "avg", "mean", "min", "max",
    "stddev", "stddev_pop", "stddev_samp", "std",
    "variance", "var_pop", "var_samp", "skewness", "kurtosis",
    "collect_list", "collect_set", "array_agg",
    "approx_count_distinct", "approx_percentile", "percentile_approx",
    "percentile", "median", "mode",
    "bool_and", "bool_or", "every", "any", "some",
    "bit_and", "bit_or", "bit_xor", "sum_distinct",
    "hll_sketch_agg", "try_sum", "try_avg")

  private[graft] def aggFilter(canon: Map[String, String] = Map.empty,
      emitted: Map[String, Pass] = Map.empty): Pass = {
    val re = "(?i)\\)\\s*FILTER\\s*\\(".r
    val distinctRe = "(?is)^DISTINCT\\s+(.*)$".r
    val collectFns = Set("array_agg", "collect_list", "collect_set")
    pass { (sql, spans) =>
      re.findAllMatchIn(sql)
        .filter(m => spans.outside(m.start) && spans.outside(m.end - 1))
        .map { m =>
          val aggClose = m.start // the aggregate call's ')'
          val filtOpen = m.end - 1 // the '(' after FILTER
          val filtClose = matchParen(sql, spans, filtOpen)
          if (filtClose < 0)
            throw new graft.UnsupportedError(s"unbalanced FILTER ( in: $sql")
          val where = prefixMatch("(?is)^\\s*WHERE\\b".r, sql, filtOpen + 1)
            .getOrElse(throw new graft.UnsupportedError(
              s"FILTER requires (WHERE <condition>), got: (${sql.substring(filtOpen + 1, filtClose).trim})"))
          val aggOpen = backwardMatch(sql, spans, aggClose)
          if (aggOpen < 0)
            throw new graft.UnsupportedError(s"unbalanced ) before FILTER in: $sql")
          var e = aggOpen
          while (e > 0 && Character.isWhitespace(sql.charAt(e - 1))) e -= 1
          var b = e
          while (b > 0 && (Character.isLetterOrDigit(sql.charAt(b - 1)) || sql.charAt(b - 1) == '_')) b -= 1
          val fn = canon.getOrElse(sql.substring(b, e).toLowerCase, sql.substring(b, e))
          if (fn.isEmpty)
            throw new graft.UnsupportedError(
              "FILTER must follow an aggregate function call")
          val argHoles = argRanges(sql, spans, aggOpen + 1, aggClose)
          // the site normally ends at the FILTER clause's ')'; a windowed
          // collect extends it over the OVER spec
          val over =
            if (collectFns(fn.toLowerCase) && argHoles.length == 1)
              overSpec(sql, spans, filtClose + 1)
            else None
          val holes = argHoles ++ Seq((filtOpen + 1 + where.end, filtClose)) ++ over
          def build(texts: Seq[String]): String = {
            val args = texts.take(argHoles.length).map(_.trim)
            val cond = texts(argHoles.length).trim
            def wrap(a: String): String = a match {
              case distinctRe(core) => s"DISTINCT CASE WHEN $cond THEN $core END"
              case _ => s"CASE WHEN $cond THEN $a END"
            }
            (fn.toLowerCase, args) match {
              case ("count", Seq("*")) => s"count_if($cond)"
              case ("corr" | "covar_pop" | "covar_samp" | "regr_slope" |
                  "regr_intercept" | "regr_r2" | "regr_count", as) =>
                fn + "(" + as.map(wrap).mkString(", ") + ")"
              case ("string_agg" | "listagg" | "group_concat", v +: rest) =>
                fn + "(" + (wrap(v) +: rest).mkString(", ") + ")"
              case ("approx_count_distinct" | "approx_percentile" |
                  "percentile_approx" | "percentile", v +: rest) if rest.nonEmpty =>
                fn + "(" + (wrap(v) +: rest).mkString(", ") + ")"
              case ("first" | "first_value" | "last" | "last_value" |
                  "any_value", _) =>
                throw new graft.UnsupportedError(
                  s"FILTER on $fn is outside the shimmed surface: Spark's " +
                    s"$fn defaults to ignoreNulls=false, so the CASE-wrap " +
                    "rewrite would silently return a non-matching row's NULL")
              case (f, Seq(a)) if NullSkippingAggs.contains(f) =>
                // the collect family needs care: every FILTER dialect keeps
                // NULL elements in array_agg, so the bare CASE wrap would
                // conflate a genuine NULL element with a filtered-out row
                if (collectFns(f)) {
                  val aSpans = lex(a)
                  val aDepth = depthAt(a, aSpans)
                  // an ordered collect (`array_agg(x ORDER BY y)`, pre-rewrite)
                  // has no correct wrap at all (the downstream struct collect
                  // would surface filtered rows as NULLs) — named fail-fast
                  if ("(?i)\\bORDER\\s+BY\\b".r.findAllMatchIn(a)
                      .exists(mm => aDepth(mm.start) == 0 && aSpans.outside(mm.start)))
                    throw new graft.UnsupportedError(
                      s"FILTER on an inline-ORDER-BY $f is outside the shimmed " +
                        "surface (the CASE wrap would inject the filtered rows " +
                        "back as NULL array elements); filter in a subquery instead")
                  // struct-wrap so a matching row's NULL value SURVIVES (the
                  // null STRUCT of a filtered-out row is what collect_list
                  // drops) — exact FILTER semantics. In the windowed position
                  // (r15 — formerly a value-losing CASE wrap) transform
                  // composes OVER the window expression, so the same struct
                  // wrap applies with the OVER span taken into the site.
                  val (prefix, v) = a match {
                    case distinctRe(core) => ("DISTINCT ", core)
                    case _ => ("", a)
                  }
                  val wrapped = s"$fn(${prefix}CASE WHEN $cond THEN " +
                    s"named_struct('__f', $v) END)"
                  texts.drop(argHoles.length + 1).headOption.fold(
                    s"transform($wrapped, s -> s.__f)")(
                    spec => s"transform($wrapped OVER $spec, s -> s.__f)")
                } else s"$fn(${wrap(a)})"
              case (f, Seq(_)) => throw new graft.UnsupportedError(
                s"FILTER on $f is outside the shimmed surface: the CASE-wrap " +
                  "rewrite is only correct for null-skipping aggregates " +
                  "(count/sum/min/max/avg/stddev/collect_*/…)")
              case _ => throw new graft.UnsupportedError(
                s"FILTER on $fn with ${args.length} arguments is outside the shimmed surface")
            }
          }
          new Site(b, over.fold(filtClose + 1)(_._2), holes, texts =>
            Some(emitted.get(fn.toLowerCase).fold(build(texts))(_(build(texts)))))
        }
    }
  }

  /** [[aggFilter]] with every aggregate spelled as Spark spells it. */
  private[graft] val rewriteAggFilter: Pass = aggFilter()

  // ---- Redshift-ish helpers ----------------------------------------------

  /** Normalize a Redshift date-part argument (long names, plurals, and
    * abbreviations per the Redshift datetime-parts table; `m` means
    * MINUTE there, not month).
    */
  private def rsPart(arg: String, fn: String): String = {
    val p = arg.stripPrefix("'").stripSuffix("'").toLowerCase
    val canon = Map(
      "day" -> "day", "days" -> "day", "d" -> "day",
      "week" -> "week", "weeks" -> "week", "w" -> "week",
      "month" -> "month", "months" -> "month", "mon" -> "month", "mons" -> "month",
      "quarter" -> "quarter", "quarters" -> "quarter", "qtr" -> "quarter", "qtrs" -> "quarter",
      "year" -> "year", "years" -> "year", "y" -> "year", "yr" -> "year", "yrs" -> "year",
      "hour" -> "hour", "hours" -> "hour", "h" -> "hour", "hr" -> "hour", "hrs" -> "hour",
      "minute" -> "minute", "minutes" -> "minute", "m" -> "minute", "min" -> "minute", "mins" -> "minute",
      "second" -> "second", "seconds" -> "second", "s" -> "second", "sec" -> "second", "secs" -> "second")
    canon.getOrElse(p,
      throw new graft.UnsupportedError(s"$fn date part '$p' is not supported"))
  }

  /** Redshift `DATEADD(part, n, expr)` — same calendar semantics as the
    * Snowflake/T-SQL spelling, Redshift part vocabulary.
    */
  private[graft] val rsDateAdd: Calls = Calls("dateadd") { (fn, args) =>
    if (args.length != 3)
      throw new graft.UnsupportedError(s"$fn expects (part, n, expr)")
    Some(dateAddExpr(rsPart(args(0), fn), args(1), args(2)))
  }

  /** Redshift `DATEDIFF(part, start, end)` — boundary crossings with the
    * week rolling at SUNDAY (proleptic 0001-01-07), Redshift's
    * DATEDIFF(week) boundary.
    */
  private[graft] val rsDateDiff: Calls = Calls("datediff") { (fn, args) =>
    if (args.length != 3)
      throw new graft.UnsupportedError(s"$fn expects (part, start, end)")
    Some(boundaryDateDiff(rsPart(args(0), fn), args(1), args(2), "0001-01-07", "date_diff"))
  }

  /** Bare `VARCHAR`/`TEXT`/`BPCHAR` (no length) in a type position →
    * STRING — Redshift, Postgres and DuckDB cast to unsized VARCHAR
    * freely, Spark's parser demands a length. Two positions are type
    * positions: the type argument of a `CAST`/`TRY_CAST` and the type
    * after a `::` cast (Spark parses `::` itself). A column or alias
    * legitimately NAMED text/varchar (`SELECT body AS text`) is code,
    * not a type — an earlier whole-text word rewrite corrupted exactly
    * that. Sized `VARCHAR(n)` passes through Spark-native.
    */
  private[graft] val rsBareTypes: Table = Table(Seq(
    Calls("cast|try_cast") { (fn, args) =>
      args match {
        case Seq(one) =>
          """(?is)^(.*\sAS\s+)(VARCHAR|TEXT|BPCHAR)\s*$""".r.findFirstMatchIn(one)
            .map(g => s"$fn(${g.group(1)}STRING)")
        case _ => None
      }
    },
    tokens("""(?i)::\s*(?:VARCHAR|TEXT|BPCHAR)\b(?!\s*\()""".r)(_ => "::STRING")))

  // ---- ClickHouse-ish helpers --------------------------------------------

  /** `-If` aggregate combinators. `countIf(c)` → Spark's native
    * `count_if`; the value-carrying forms become CASE aggregates.
    * `sumIf` wraps in COALESCE(…, 0) — ClickHouse sums return 0, not
    * NULL, when no row matches; avg/min/max translate to NULL-on-empty
    * (ClickHouse would return a type default like 0 — NULL is the
    * fail-soft choice and matches what SQL users expect of the CASE form).
    */
  private[graft] val chAggIf: Calls = Calls("countIf|sumIf|avgIf|minIf|maxIf") { (fn, args) =>
    (fn.toLowerCase, args) match {
      case ("countif", Seq(c)) => Some(s"count_if($c)")
      case ("countif", Seq(x, c)) => Some(s"count(CASE WHEN $c THEN $x END)")
      case ("sumif", Seq(x, c)) =>
        Some(s"coalesce(sum(CASE WHEN $c THEN $x END), 0)")
      case ("avgif", Seq(x, c)) => Some(s"avg(CASE WHEN $c THEN $x END)")
      case ("minif", Seq(x, c)) => Some(s"min(CASE WHEN $c THEN $x END)")
      case ("maxif", Seq(x, c)) => Some(s"max(CASE WHEN $c THEN $x END)")
      case _ => throw new graft.UnsupportedError(
        s"ClickHouse $fn expects ${if (fn.equalsIgnoreCase("countif")) "(cond) or (expr, cond)" else "(expr, cond)"}")
    }
  }

  /** `multiIf(c1, v1, …, cN, vN, else)` → searched CASE. */
  private[graft] val chMultiIf: Calls = Calls("multiIf") { (_, args) =>
    if (args.length < 3 || args.length % 2 == 0)
      throw new graft.UnsupportedError(
        "multiIf expects cond,value pairs plus a final else")
    val whens = args.dropRight(1).grouped(2)
      .map { p => s"WHEN ${p(0)} THEN ${p(1)}" }.mkString(" ")
    Some(s"(CASE $whens ELSE ${args.last} END)")
  }

  /** ClickHouse camel-case `to*` conversions → Spark casts/extracts.
    * `toString(date)` prints ISO yyyy-MM-dd on both engines;
    * `toYYYYMM`/`toYYYYMMDD` return integers (BIGINT here, UInt32
    * there); `toStartOf{Year,Month}` return DATE, `toStartOfDay` a
    * TIMESTAMP — all per ClickHouse result typing.
    */
  private[graft] val chTo: Calls = Calls(
      "toYYYYMMDD|toYYYYMM|toYear|toMonth|toDayOfMonth|toDate|toString|" +
      "toInt32|toInt64|toFloat64|toStartOfYear|toStartOfMonth|" +
      "toStartOfDay|toUnixTimestamp") { (fn, args) =>
    if (args.length != 1)
      throw new graft.UnsupportedError(s"ClickHouse $fn expects one argument")
    val x = args.head
    Some(fn.toLowerCase match {
      case "toyear" => s"year($x)"
      case "tomonth" => s"month($x)"
      case "todayofmonth" => s"day($x)"
      case "todate" => s"CAST($x AS DATE)"
      case "tostring" => s"CAST($x AS STRING)"
      case "toint32" => s"CAST($x AS INT)"
      case "toint64" => s"CAST($x AS BIGINT)"
      case "tofloat64" => s"CAST($x AS DOUBLE)"
      case "toyyyymm" => s"CAST(date_format($x, 'yyyyMM') AS BIGINT)"
      case "toyyyymmdd" => s"CAST(date_format($x, 'yyyyMMdd') AS BIGINT)"
      case "tostartofyear" => s"CAST(date_trunc('YEAR', $x) AS DATE)"
      case "tostartofmonth" => s"CAST(date_trunc('MONTH', $x) AS DATE)"
      case "tostartofday" => s"date_trunc('DAY', $x)"
      case "tounixtimestamp" => s"unix_timestamp($x)"
    })
  }

  /** ClickHouse `formatDateTime(x, 'fmt')` — MODERN (≥ 23.4 default,
    * `formatdatetime_parsedatetime_m_is_month_name = 1`) code
    * semantics, which match MySQL's table: %M is the month NAME, %i is
    * minutes, %m the month number (pre-23.4 ClickHouse read %M as
    * minutes — users on that vintage should write %i, which means
    * minutes in every version). Translated through the shared MySQL
    * table, %-free literal characters quoted. `fromUnixTimestamp(x)` →
    * `timestamp_seconds` (TIMESTAMP-typed like ClickHouse's DateTime —
    * Spark's same-purpose `from_unixtime` is STRING-typed and would
    * silently change the result type).
    */
  private[graft] val chFormatDateTime: Calls = Calls("formatDateTime|fromUnixTimestamp") { (fn, args) =>
    if (fn.equalsIgnoreCase("formatdatetime")) args match {
      case Seq(x, SingleLiteral(f)) =>
        Some(s"date_format($x, '${translateMysqlFormat(f).replace("'", "''")}')")
      case _ => throw new graft.UnsupportedError(
        "formatDateTime expects (expr, 'format') with a literal format")
    } else args match {
      case Seq(x) => Some(s"timestamp_seconds($x)")
      case _ => throw new graft.UnsupportedError(
        "fromUnixTimestamp expects one argument")
    }
  }

  /** SQLite `date(x, 'modifier', …)` — the `±N days/months/years` and
    * `start of month/year` modifier subset, folded left over the base
    * (SQLite applies modifiers in order). Month/year offsets use
    * SQLite's documented NORMALIZATION semantics — `2024-01-31, +1
    * month` is 2024-03-02, not a clamped Feb 29 — spelled as
    * month-start + add_months + day-offset so the overflow rolls
    * forward exactly as SQLite does (Spark's bare `add_months` clamps
    * and would silently differ for day-29+ dates). Bare `date(x)` is
    * the ISO-date conversion → CAST AS DATE. Unsupported modifiers
    * ('weekday N', 'unixepoch', fractional offsets) raise.
    */
  private[graft] val sqliteDateFn: Calls = Calls("date") { (_, args) =>
    args match {
      case Seq(x) => Some(s"CAST($x AS DATE)")
      case base +: mods =>
        val NumMod = """^([+-]?\d+)\s+(day|days|month|months|year|years)$""".r
        val folded = mods.foldLeft(s"CAST($base AS DATE)") { (acc, m) =>
          m.trim match {
            case SingleLiteral(lit) => lit.trim.toLowerCase match {
              case NumMod(n, unit) =>
                if (unit.startsWith("day")) s"date_add($acc, ($n))"
                else {
                  val months = if (unit.startsWith("month")) s"($n)" else s"12 * ($n)"
                  s"date_add(add_months(trunc($acc, 'MM'), $months), day($acc) - 1)"
                }
              case "start of month" => s"trunc($acc, 'MM')"
              case "start of year" => s"trunc($acc, 'YEAR')"
              case other => throw new graft.UnsupportedError(
                s"SQLite date modifier '$other' is not supported")
            }
            case other => throw new graft.UnsupportedError(
              s"SQLite date modifier must be a string literal, got: $other")
          }
        }
        // each month/year modifier embeds the accumulator twice (trunc +
        // day), so deep chains grow the emitted text geometrically —
        // bound it rather than hand Spark a pathological expression
        if (folded.length > 8192)
          throw new graft.UnsupportedError(
            "chained SQLite date modifiers expand beyond the supported size — combine the offsets")
        Some(folded)
      case _ => None
    }
  }

  /** Lambda-first array higher-order functions → Spark's array-first
    * forms: `arrayMap(x -> e, arr)` → `transform(arr, x -> e)`, same for
    * filter/exists/forall; `arrayCount(λ, arr)` → `size(filter(…))`.
    * Only the two-argument form translates (ClickHouse multi-array zips
    * have no direct Spark spelling).
    */
  private[graft] val chArrayHof: Calls = Calls(
      "arrayMap|arrayFilter|arrayExists|arrayAll|arrayCount") { (fn, args) =>
    args match {
      case Seq(lam, arr) => Some(fn.toLowerCase match {
        case "arraymap" => s"transform($arr, $lam)"
        case "arrayfilter" => s"filter($arr, $lam)"
        case "arrayexists" => s"exists($arr, $lam)"
        case "arrayall" => s"forall($arr, $lam)"
        case "arraycount" => s"size(filter($arr, $lam))"
      })
      case _ => throw new graft.UnsupportedError(
        s"ClickHouse $fn expects (lambda, array)")
    }
  }

  /** `splitByChar('s', str)` / `splitByString('sep', str)` → `split` with
    * the separator \Q…\E-quoted (ClickHouse splits literally; Spark's
    * split takes a regex). Separator must be a literal or expression —
    * dynamic separators are quoted at runtime via concat, mirroring
    * [[stringSplit]].
    */
  private[graft] val chSplit: Calls = Calls("splitByChar|splitByString") { (_, args) =>
    args match {
      case Seq(sepArg, s) =>
        val sep = sepArg match {
          case SingleLiteral(lit) =>
            if (lit.contains("\\E")) throw new graft.UnsupportedError(
              "splitBy separator containing \\E is not supported")
            "'\\\\Q" + lit + "\\\\E'"
          case dyn => s"concat('\\\\Q', ${dyn.trim}, '\\\\E')"
        }
        Some(s"split($s, $sep)")
      case _ => throw new graft.UnsupportedError(
        "splitByChar/splitByString expect (separator, string)")
    }
  }

  /** `uniqExact` → exact COUNT(DISTINCT …); `uniq` → HLL
    * approx_count_distinct (ClickHouse's uniq is itself approximate).
    */
  private[graft] val chUniq: Calls = Calls("uniqExact|uniq") { (fn, args) =>
    if (args.isEmpty)
      throw new graft.UnsupportedError(s"ClickHouse $fn expects arguments")
    Some(if (fn.equalsIgnoreCase("uniqexact"))
      s"count(DISTINCT ${args.mkString(", ")})"
    else s"approx_count_distinct(${args.mkString(", ")})")
  }

  /** `empty(s)` / `notEmpty(s)` string emptiness tests. */
  private[graft] val chEmpty: Calls = Calls("notEmpty|empty") { (fn, args) =>
    args match {
      case Seq(x) => Some(
        if (fn.equalsIgnoreCase("empty")) s"(length($x) = 0)"
        else s"(length($x) > 0)")
      case _ => throw new graft.UnsupportedError(s"$fn expects one argument")
    }
  }

  /** ClickHouse `position(haystack, needle)` → `locate(needle, haystack)`
    * (argument swap; both are 1-based with 0 for absent). The ANSI
    * `position(x IN y)` form arrives as a single argument and passes
    * through untouched.
    */
  private[graft] val chPosition: Calls = Calls("position") { (_, args) =>
    args match {
      case Seq(h, n) => Some(s"locate($n, $h)")
      case _ => None
    }
  }

  /** Trino datetime surface — Trino inherits MySQL's %-code date
    * functions (its docs file them under "MySQL date functions"):
    * `date_format(x, '%Y-%m')` translates through the shared MySQL
    * format table — WITHOUT this rewrite the call would reach Spark's
    * same-named Java-pattern function and silently emit the literal
    * `%Y-%m` — and `date_parse(s, fmt)` → `to_timestamp` (always
    * timestamp-typed in Trino). `day_of_week`/`dow` are ISO-numbered
    * (Monday = 1 … Sunday = 7) where Spark's `dayofweek` is Sunday = 1,
    * so the rewrite re-bases; `day_of_year`/`doy` → dayofyear;
    * `week`/`week_of_year` → weekofyear (ISO on both);
    * `year_of_week`/`yow` → EXTRACT(YEAROFWEEK) (the ISO week-year).
    */
  private[graft] val trinoDateFns: Calls = Calls("date_format|date_parse|" +
      "day_of_week|dow|day_of_year|doy|week_of_year|week|year_of_week|yow") { (fn, args) =>
    fn.toLowerCase match {
      case "date_format" | "date_parse" => args match {
        case Seq(x, SingleLiteral(f)) =>
          // %-free formats included: every non-% character is LITERAL in
          // Trino (the translator quotes it) — passing 'yyyy' through to
          // Spark's pattern language would silently emit the year
          val java = translateMysqlFormat(f).replace("'", "''")
          if (fn.equalsIgnoreCase("date_parse")) {
            if (MysqlCodeRe.findFirstIn(f).isEmpty)
              throw new graft.UnsupportedError(
                s"date_parse format '$f' has no %-codes — nothing to parse")
            Some(s"to_timestamp($x, '$java')")
          } else Some(s"date_format($x, '$java')")
        case Seq(_, other) => throw new graft.UnsupportedError(
          s"$fn format must be a string literal, got: $other")
        case _ => throw new graft.UnsupportedError(s"$fn expects (expr, 'format')")
      }
      case lower =>
        if (args.length != 1)
          throw new graft.UnsupportedError(s"$fn expects one argument")
        val x = args(0)
        Some(lower match {
          case "day_of_week" | "dow" => s"(((dayofweek($x) + 5) % 7) + 1)"
          case "day_of_year" | "doy" => s"dayofyear($x)"
          case "week_of_year" | "week" => s"weekofyear($x)"
          case _ => s"EXTRACT(YEAROFWEEK FROM $x)"
        })
    }
  }

  /** MySQL `DAYNAME`/`MONTHNAME` — FULL English names ('Monday',
    * 'January'; Snowflake's same-named functions abbreviate — the two
    * dialects get distinct rewrites), and `WEEKDAY` (0 = Monday;
    * MySQL's `DAYOFWEEK` is 1 = Sunday which matches Spark's and passes
    * through).
    */
  private[graft] val mysqlDayNames: Calls = Calls("dayname|monthname|weekday") { (fn, args) =>
    if (args.length != 1)
      throw new graft.UnsupportedError(s"$fn expects one argument")
    Some(fn.toLowerCase match {
      case "dayname" => s"date_format(${args(0)}, 'EEEE')"
      case "monthname" => s"date_format(${args(0)}, 'MMMM')"
      case _ => s"((dayofweek(${args(0)}) + 5) % 7)"
    })
  }

  /** Split one ORDER BY key into (expression, trimmed ASC/DESC +
    * NULLS FIRST/LAST suffix) — the shared parse for every sort-key
    * consumer in the paging builder (r17 review: the regex literal had
    * been copy-pasted per site).
    */
  private def splitSortSuffix(part: String): (String, String) = {
    val m = "(?is)^(.*?)((?:\\s+(?:ASC|DESC))?(?:\\s+NULLS\\s+(?:FIRST|LAST))?)\\s*$".r
      .findFirstMatchIn(part).get
    (m.group(1).trim, m.group(2).trim)
  }

  /** Strip one level of backtick quoting from a sort-key token — a
    * QUOTED output name (`"p"`, backticked after the identifier
    * rewrites) is legal wherever a bare output name is, so every
    * resolve-to-output-name lookup unquotes before matching (r18, from
    * ADVICE — first added to the set-op resolver, then shared with the
    * DISTINCT and LIMIT BY resolvers, which had the same miss).
    */
  private def stripBacktick(e: String): String =
    if (e.length > 1 && e.startsWith("`") && e.endsWith("`") &&
        !e.substring(1, e.length - 1).contains("`"))
      e.substring(1, e.length - 1)
    else e

  /** Canonical lookup key for an OUTPUT NAME: the unquoted content,
    * lowercased — and nothing else. WHITESPACE inside a quoted
    * identifier is content, never collapsible (r18 fourth review: a
    * whitespace-normalizing key conflated `` `a b` `` with
    * `` `a  b` `` — a silent wrong-sort via toMap last-wins). CASE is
    * deliberately folded even for quoted content (r19 doc alignment,
    * from the r18 verdict: the old wording claimed fully literal
    * comparison) — Spark's own resolver is case-insensitive, so the
    * emitted statement could not tell `` `D` `` from `` `d` `` anyway;
    * [[byNameMap]] keeps case-differing quoted twins out of the map and
    * [[distinctKeyResolver]] raises on a key that hits them, so the
    * fold can misdirect nothing. A bare `d` and a quoted `` `d` ``
    * canonicalize to the same key, matching the dialects' identifier
    * equivalence.
    */
  private def nameKey(nm: String): String = stripBacktick(nm).toLowerCase

  /** Resolve a sort/partition key to a DISTINCT-output NAME: a
    * backtick-QUOTED key matches an output name's literal content; a
    * BARE key does only when it is a plain identifier — a dotted `t.k`
    * is a qualified column reference, never an output name (r18 third
    * review: a blanket strip let it silently resolve to a quoted alias
    * `` `t.k` `` and sort by the wrong expression); anything else falls
    * to the caller's expression-text match. `byName` must be keyed on
    * [[nameKey]] — the quoted-alias spelling `` v AS `d` `` keeps the
    * quoting in itemName, so the map side strips too (r18
    * second/third/fourth reviews).
    */
  /** A key is NAME-SHAPED — eligible for output-name resolution — when
    * it is backtick-quoted or a plain bare identifier. One predicate
    * shared by [[resolveOutputName]] and the duplicate-name guard in
    * [[distinctKeyResolver]] (r19 second review: a drifting copy would
    * let a key resolve by name while skipping the guard).
    */
  private def isNameShapedKey(e: String): Boolean =
    stripBacktick(e) != e || e.matches("[A-Za-z_][A-Za-z0-9_]*")

  private def resolveOutputName(e: String,
      byName: Map[String, String]): Option[String] =
    if (isNameShapedKey(e)) byName.get(nameKey(e))
    else None

  /** [[nameKey]]-keyed map over output names, plus the names DUPLICATED
    * under the canonicalization (case-differing quoted names, a bare
    * name plus its quoted twin). The ambiguity error is raised LAZILY
    * by [[distinctKeyResolver]] and [[guardDupOutputName]] — when a
    * sort key hits a duplicated name directly, resolves TO one via the
    * expression match, or lands ON one via an ordinal — mirroring the
    * expression-side ambiguity handling (r19, from ADVICE: the eager
    * construction-time raise rejected statements whose keys never
    * touched the duplicated name; those now proceed, and any remaining
    * duplicate in the emitted projection fails LOUDLY at Spark's
    * case-insensitive analyzer — never silently). A silent toMap
    * last-wins would sort by the WRONG column (r18 fifth review), so
    * duplicated keys are excluded from the map entirely.
    */
  private def byNameMap(itemNames: Seq[String]): (Map[String, String], Map[String, Seq[String]]) = {
    val dups = itemNames.groupBy(nameKey).filter(_._2.size > 1)
    (itemNames.filterNot(nm => dups.contains(nameKey(nm)))
      .map(nm => nameKey(nm) -> nm).toMap, dups)
  }

  /** The one resolve-to-output-name policy for sort/partition keys under
    * SELECT DISTINCT (shared by the FETCH/TOP family's DISTINCT branch
    * and LIMIT BY, r18 sixth review — the copies had already started to
    * diverge): [[resolveOutputName]] first, then the select-list
    * EXPRESSION match — whitespace-NORMALIZED for bare keys (formatting
    * is not content there), EXACT for quoted keys (whitespace inside
    * quoting IS content — the normalized match conflated `` `a b` ``
    * with `` `a  b` ``, while the exact match keeps `ORDER BY `a b``
    * legal when that quoted column itself appears in the select list).
    * Returns None for an unresolvable key; the caller raises its own
    * named error.
    */
  /** Literal-span-aware expression-text normalization (r18 sixth
    * review): whitespace and case are FORMATTING outside literals and
    * quoted identifiers but CONTENT inside them — a plain regex
    * collapse conflated expression texts differing only inside a
    * string literal or an embedded quoted name. Because quoted-span
    * bytes pass through verbatim, a whole-string quoted key is matched
    * exactly (case- and whitespace-sensitive) by construction — no
    * separate exact map needed (r18 seventh review: the extra map's
    * routing predicate misclassified multi-token keys that merely
    * start and end with a quoted identifier).
    */
  private def normalizeExprText(x: String): String = {
    val sp = lex(x)
    val sb = new StringBuilder
    var i = 0
    while (i < x.length) {
      if (sp.outside(i) && x.charAt(i).isWhitespace) {
        sb.append(' ')
        while (i < x.length && sp.outside(i) &&
          x.charAt(i).isWhitespace) i += 1
      } else if (sp.outside(i)) {
        sb.append(Character.toLowerCase(x.charAt(i))); i += 1
      } else { sb.append(x.charAt(i)); i += 1 }
    }
    sb.toString.trim
  }

  /** Raise the ambiguity error when a resolved sort/partition key lands
    * ON a duplicated canonical output name (r19 review): the emitted
    * rank/partition clause would reference a name Spark's
    * case-insensitive resolver cannot tell from its twin — the named
    * error beats the raw AMBIGUOUS_REFERENCE it would otherwise become.
    * Used by the expression-match result and the ORDINAL paths, which
    * bypass [[distinctKeyResolver]]'s name-shaped-key guard.
    */
  private def guardDupOutputName(itemNames: Seq[String], construct: String,
      nm: String): String = {
    val twins = itemNames.filter(x => nameKey(x) == nameKey(nm))
    if (twins.size > 1)
      throw new graft.UnsupportedError(
        s"$construct cannot resolve sort keys against duplicate output names: " +
          twins.mkString(", "))
    nm
  }

  private def distinctKeyResolver(items: Seq[String], itemNames: Seq[String],
      construct: String): String => Option[String] = {
    val (byName, dupNames) = byNameMap(itemNames)
    val exprPairs = items.map(itemExpr).zip(itemNames)
      .map { case (ex, nm) => normalizeExprText(ex) -> nm }
    // expression keys shared by items with DIFFERENT output names are
    // AMBIGUOUS: a key hitting one raises the dialects' own ambiguity
    // error (r18 seventh review — a dedup-drop surfaced as a misleading
    // not-in-select-list error; an eager raise like byNameMap's would
    // reject legal statements whose keys use the distinct aliases)
    val ambiguous = exprPairs.groupBy(_._1)
      .collect { case (k, vs) if vs.map(_._2).distinct.size > 1 => k }.toSet
    val byExpr = exprPairs.filterNot(p => ambiguous(p._1)).toMap
    (e: String) => {
      // a name-shaped key hitting a DUPLICATED canonical output name is
      // ambiguous — raised here, lazily, so ordinals and keys that never
      // touch the duplicated name stay legal (r19, from ADVICE)
      if (isNameShapedKey(e) && dupNames.contains(nameKey(e)))
        throw new graft.UnsupportedError(
          s"$construct cannot resolve sort keys against duplicate output names: " +
            dupNames(nameKey(e)).mkString(", "))
      resolveOutputName(e, byName).orElse {
        val key = normalizeExprText(e)
        if (ambiguous(key))
          throw new graft.UnsupportedError(
            s"$construct sort key matches more than one select item: $e")
        // an expression key may RESOLVE TO a duplicated name — guard the
        // result too (r19 review: the emit would otherwise die at
        // Spark's analyzer with a raw ambiguous-reference error)
        byExpr.get(key).map(nm => guardDupOutputName(itemNames, construct, nm))
      }
    }
  }

  /** Pin the dialect's DEFAULT null placement into sort keys wherever
    * the placement decides row MEMBERSHIP, not just display order —
    * Spark's default (nulls smallest: first-on-ASC/last-on-DESC) is the
    * OPPOSITE of the nulls-largest dialects' and of DuckDB/ClickHouse's
    * both-ways NULLS LAST (r16 review: the WITH TIES family has pinned
    * this since r14, but a plain `ORDER BY nullable LIMIT n` and every
    * USER window — `row_number() OVER (ORDER BY nullable)` under
    * QUALIFY, ordered frames — kept Spark's polarity: a silent
    * membership change on nullable keys). Pinned sites:
    *   - every `OVER (… ORDER BY keys [frame])` span and every named
    *     `WINDOW w AS (…)` spec (recognized by an `AS (` whose content
    *     OPENS with PARTITION/ORDER/ROWS/RANGE/GROUPS — a CTE or
    *     derived-table `AS (SELECT …)` opens with SELECT/WITH and is
    *     recursed as a statement scope instead);
    *   - a statement-scope ORDER BY whose scope continues with
    *     LIMIT/FETCH/OFFSET — truncation turns order into membership.
    *     An un-truncated ORDER BY is left untouched (the full row set
    *     is order-insensitive as a relation).
    * Keys already spelling NULLS FIRST/LAST keep the user's placement;
    * the paging rewrites' own pinned windows are unchanged for the
    * same reason. `alwaysLast = false` → nulls-largest (Postgres /
    * Oracle / Trino / Snowflake / Redshift: LAST on ASC, FIRST on
    * DESC); `true` → DuckDB / ClickHouse's NULLS LAST both ways.
    * A pipe operator ends a key list like a clause does, and a
    * `|> ORDER BY` followed by `|> LIMIT` (the statement-level rewrites'
    * paging) is pinned like `ORDER BY … LIMIT`.
    * Runs LAST in each dialect's rewrite so the windows other rewrites
    * EMIT (DISTINCT ON's row_number, LIMIT BY's, a materialized QUALIFY
    * predicate) are pinned too. One lexing, one site per ORDER BY key
    * list: its keys are the site's holes, so the key lists nested in
    * them are pinned first.
    */
  private[graft] def pinSortNulls(sql: String, alwaysLast: Boolean = false): String =
    rewriteSites(sql) { spans =>
      val depth = depthAt(sql, spans)
      val marks = PinMark.findAllMatchIn(sql).filter(m => spans.outside(m.start))
        .map(m => (m.start, m.end, Option(m.group(1)).fold("|>")(_.toUpperCase.split("\\s+").head)))
        .toVector
      val starts = marks.map(_._1).toArray
      val sites = Vector.newBuilder[Site]
      // the marks of sql[from, to) at paren depth d
      def marksIn(from: Int, to: Int, d: Int) = {
        val k = java.util.Arrays.binarySearch(starts, from)
        marks.iterator.drop(if (k < 0) -k - 1 else k).takeWhile(_._1 < to).filter(mk => depth(mk._1) == d)
      }
      // the scope sql[from, to): its paren groups are scopes of their own,
      // a window spec when `OVER (…)`, `WINDOW w AS (…)` (content opens
      // with a window keyword — a CTE/derived `AS (SELECT …)` is a
      // statement) or `WITHIN GROUP (ORDER BY …)` (r16 second review:
      // listagg/string_agg output strings depend on the sort placement
      // too; `GROUP BY (…)` has token `by`, never `group`)
      def scope(from: Int, to: Int, isWindowSpec: Boolean): Unit = {
        val d = depth(from)
        var i = from
        while (i < to) {
          if (sql.charAt(i) == '(' && spans.outside(i) && depth(i) == d) {
            val close = matchParen(sql, spans, i)
            if (close > i) {
              var j = i - 1
              while (j >= 0 && Character.isWhitespace(sql.charAt(j))) j -= 1
              val tok = if (j < 0) "" else wordBefore(sql, j + 1)
              val childIsWin = tok == "over" ||
                ((tok == "as" || tok == "group") &&
                  prefixMatch(WindowSpecStart, sql, i + 1).isDefined)
              scope(i + 1, close, childIsWin)
              i = close + 1
            } else i += 1
          } else i += 1
        }
        val own = marksIn(from, to, d).toVector
        own.iterator.filter(_._3 == "ORDER").foreach { case (_, keysStart, _) =>
          def next(kinds: Set[String]) = own.find(mk => mk._1 >= keysStart && kinds(mk._3)).fold(-1)(_._1)
          val keysEnd =
            if (isWindowSpec) { val b = next(Set("ROWS", "RANGE", "GROUPS")); if (b >= 0) b else to }
            else {
              // a pipe operator ends the keys too (`|> ORDER BY k |> LIMIT
              // n`); the order decides membership only when a truncation
              // follows (-1 = none → skip)
              val trunc = next(Set("LIMIT", "FETCH", "OFFSET"))
              val pipe = next(Set("|>"))
              if (trunc >= 0 && pipe >= 0 && pipe < trunc) pipe else trunc
            }
          if (keysEnd >= 0) {
            val keys = argRanges(sql, spans, keysStart, keysEnd)
            val commented = spans.all.exists(sp => sp.kind == SpanKind.Comment &&
              sp.start >= keysStart && sp.start < keysEnd)
            sites += new Site(keysStart, keysEnd, keys, parts => pinKeys(parts, commented, alwaysLast))
          }
        }
      }
      scope(0, sql.length, isWindowSpec = false)
      sites.result().iterator
    }

  private val PinMark = "(?i)\\b(ORDER\\s+BY|ROWS|RANGE|GROUPS|LIMIT|FETCH|OFFSET)\\b|\\|>".r
  private val WindowSpecStart = "(?is)^\\s*(PARTITION|ORDER|ROWS|RANGE|GROUPS)\\b".r

  /** One ORDER BY key list, `parts` its keys, with the dialect's default
    * null placement pinned into each key that spells none; None leaves a
    * malformed list (an empty key) for the parser to reject.
    */
  private def pinKeys(parts0: Seq[String], commented: Boolean, alwaysLast: Boolean): Option[String] = {
    // a COMMENT inside the key list would swallow the appended pin
    // (and, trim-joined onto one line, the clause after it — a silent
    // dropped LIMIT, r16 second review). r16 DECLINED such sites —
    // which silently reverted them to Spark's null polarity, the very
    // class this pin exists to kill (r16 verdict "what's wrong" 1) —
    // r17 instead normalizes the comment spans to whitespace and pins
    // normally: the comment is display text, never key semantics. The
    // blank leaves a same-length whitespace hole mid-key (`s /* c */
    // DESC` → `s    …    DESC`), so runs are collapsed to one space —
    // but only OUTSIDE literal/quoted-identifier spans, where the
    // bytes are content.
    val parts = if (!commented) parts0 else {
      val blanked = parts0.map(blankComments)
      if (blanked == parts0) parts0
      else blanked.map { b =>
        val sp = lex(b)
        val out = new StringBuilder
        var i = 0
        while (i < b.length) {
          if (b.charAt(i).isWhitespace && sp.outside(i)) {
            out.append(' ')
            while (i < b.length && b.charAt(i).isWhitespace && sp.outside(i)) i += 1
          } else { out.append(b.charAt(i)); i += 1 }
        }
        out.toString
      }
    }
    if (parts.exists(_.trim.isEmpty)) None
    else Some(parts.map(p => pinNulls(p.trim, alwaysLast)).mkString(" ", ", ", " "))
  }

  /** Standalone ANSI/Oracle-12c `FETCH FIRST|NEXT n ROWS ONLY` (no
    * OFFSET clause) → `LIMIT n`. The OFFSET-prefixed combined form is
    * [[rewriteTsqlOffsetFetch]]'s job and runs first where both are
    * installed, so this only sees the bare trailing spelling.
    */
  private[graft] def rewriteFetchFirst(sql: String): String = {
    // count optional: `FETCH FIRST ROW ONLY` is LIMIT 1 in ANSI/Postgres.
    // The SCAN runs over comment-blanked text (r18 review: a FETCH
    // spelled inside a comment must not splice, and a comment between
    // the clause's tokens must not hide it); splices edit the original,
    // so comments outside the replaced clause survive.
    val re = """(?i)\bFETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+ONLY""".r
    if ("(?i)\\bFETCH\\b".r.findFirstIn(sql).isEmpty) return sql
    val blanked = blankComments(sql)
    val spans = lex(blanked)
    val out = new StringBuilder
    var last = 0
    re.findAllMatchIn(blanked).filter(m => spans.outside(m.start)).foreach { m =>
      out.append(sql.substring(last, m.start))
        .append(s"LIMIT ${Option(m.group(1)).getOrElse("1")}")
      last = m.end
    }
    out.append(sql.substring(last))
    out.toString
  }

  /** Snowflake `DAYNAME`/`MONTHNAME` — 3-letter English abbreviations
    * ('Mon', 'Jan'), i.e. Spark `date_format` EEE/MMM (NOT the full
    * names some engines return for the same function names).
    */
  private[graft] val snowDayMonthName: Calls = Calls("dayname|monthname") { (fn, args) =>
    if (args.length != 1)
      throw new graft.UnsupportedError(s"$fn expects one argument")
    val pat = if (fn.equalsIgnoreCase("dayname")) "EEE" else "MMM"
    Some(s"date_format(${args(0)}, '$pat')")
  }

  /** BigQuery `DATE_ADD/DATE_SUB/TIMESTAMP_ADD/TIMESTAMP_SUB(expr,
    * INTERVAL n part)` → the shared calendar-add spelling ([[dateAddExpr]]
    * — `_SUB` negates n). A 2-argument `date_add(date, days)` without
    * INTERVAL is Spark's own signature and passes through untouched.
    */
  private[graft] val bqDateAddSub: Calls = Calls(
      "date_add|date_sub|timestamp_add|timestamp_sub") { (fn, args) =>
    args match {
      case Seq(x, iv) =>
        """(?is)^INTERVAL\s+(.*\S)\s+([a-zA-Z]+)$""".r
          .findFirstMatchIn(iv.trim).map { g =>
            val part = g.group(2).toLowerCase match {
              case p @ ("year" | "quarter" | "month" | "week" | "day" |
                        "hour" | "minute" | "second") => p
              case other => throw new graft.UnsupportedError(
                s"$fn INTERVAL part '$other' is not supported")
            }
            val n = if (fn.toLowerCase.endsWith("_sub")) s"-(${g.group(1)})"
                    else g.group(1)
            dateAddExpr(part, n, x)
          }
      case _ => None
    }
  }

  /** BigQuery `GENERATE_ARRAY(a, b[, step])` — EMPTY when the step
    * direction never reaches b, where Spark's `sequence` silently flips
    * its default step and generates a DESCENDING array
    * (`GENERATE_ARRAY(1, 0)` is `[]` in BigQuery but `sequence(1, 0)`
    * is `[1, 0]`). A guarded CASE preserves the empty-array contract;
    * the typed empty array is a zero-width slice so its element type
    * matches sequence's.
    */
  private[graft] val bqGenerateArray: Calls = Calls("generate_array") { (fn, args) =>
    args match {
      case Seq(a, b) =>
        Some(s"(CASE WHEN ($a) <= ($b) THEN sequence(($a), ($b)) " +
          s"ELSE slice(sequence(($a), ($a)), 1, 0) END)")
      case Seq(a, b, st) =>
        Some(s"(CASE WHEN (($st) > 0 AND ($a) <= ($b)) OR (($st) < 0 AND ($a) >= ($b)) " +
          s"THEN sequence(($a), ($b), ($st)) ELSE slice(sequence(($a), ($a)), 1, 0) END)")
      case _ => throw new graft.UnsupportedError(s"$fn expects (start, stop[, step])")
    }
  }

  /** BigQuery `SPLIT(value[, delimiter])` — LITERAL delimiter (comma
    * when omitted), where Spark's `split` is regex-based: the literal
    * content is embedded in \Q…\E regex quoting. A non-literal
    * delimiter raises rather than silently regex-interpreting.
    */
  private[graft] val bqSplit: Calls = Calls("split") { (fn, args) =>
    args match {
      case Seq(s) => Some(s"split($s, '\\\\Q,\\\\E')")
      case Seq(s, d) =>
        if (!d.matches("(?s)^'.*'$"))
          throw new graft.UnsupportedError(
            s"$fn expects a string-literal delimiter, got: $d")
        Some(s"split($s, '\\\\Q" + d.substring(1, d.length - 1) + "\\\\E')")
      case _ => None
    }
  }

  /** Words that cannot be an UNNEST/FLATTEN alias — seeing one where the
    * alias should be means the alias was omitted.
    */
  private val AliasStopWords = Set("where", "group", "order", "limit",
    "having", "on", "with", "join", "cross", "left", "right", "inner",
    "full", "union", "intersect", "except", "qualify", "window", "lateral",
    "as", "select")

  /** The `[AS] alias` starting at `from`, unless the word is one of
    * [[AliasStopWords]]; its group 1 is the alias.
    */
  private def aliasAt(sql: String, from: Int): Option[scala.util.matching.Regex.Match] =
    prefixMatch("(?is)^\\s*(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*)".r, sql, from)
      .filter(mm => !AliasStopWords.contains(mm.group(1).toLowerCase))

  /** FROM-clause `UNNEST` → Spark `LATERAL VIEW`.
    *
    * BigQuery form (0-based `WITH OFFSET` = posexplode's pos exactly):
    *   `, UNNEST(e) [AS] x [WITH OFFSET [AS] off]`
    *   `CROSS JOIN UNNEST(e) [AS] x …`
    *   `LEFT JOIN UNNEST(e) [AS] x … ON TRUE` → `LATERAL VIEW OUTER`
    *     (BigQuery keeps the left row with NULL x on an empty/NULL array —
    *     exactly OUTER explode's contract)
    * Trino form (single-column table alias):
    *   `[CROSS JOIN | ,] UNNEST(e) [AS] t(x)`
    *
    * Trino `WITH ORDINALITY` form (r13): `UNNEST(e) WITH ORDINALITY
    * [AS] t(x, ord)` — ordinality is 1-BASED and a LATERAL VIEW column
    * alias cannot carry a `+1`, so the rewrite builds the pair inside
    * the array instead: `inline(transform(e, (v, i) -> struct(v AS x,
    * CAST(i + 1 AS BIGINT) AS ord)))` — `inline` generates both columns
    * directly, the +1 lives in codegen'd per-row arithmetic, and the
    * ordinal is BIGINT exactly as Trino types it. The two-column table
    * alias is REQUIRED (Trino's own spelling); the bare-alias BigQuery
    * mix `WITH ORDINALITY x` fails fast.
    *
    * Multi-array `UNNEST(a, b) [WITH ORDINALITY] AS t(x, y[, ord])`
    * (r18 — a named error before) zips POSITIONALLY with Trino's exact
    * contract: one output row per index up to the LONGEST array,
    * shorter arrays NULL-padded (Trino's documented behavior — unlike
    * ClickHouse, which errors on unequal lengths). Emitted as the same
    * index-driven `inline(transform(array_repeat(0, greatest(sizes)),
    * (_, i) -> struct(try_element_at(a, i+1) AS x, …)))` machinery as
    * the ClickHouse multi-ARRAY-JOIN zip: `array_repeat` count 0/NULL →
    * empty (all-empty/NULL arrays yield zero rows; `greatest` skips the
    * NULL sizes of NULL arrays), `try_element_at` NULL-pads past each
    * array's end. The per-array column list in the table alias is
    * REQUIRED (Trino's own spelling — there is no bare-alias multi
    * form); WITH ORDINALITY appends the 1-based BIGINT index as the
    * last aliased column.
    *
    * Postgres wiring (r19): `FROM t, UNNEST(t.arr) AS u(x)`, `WITH
    * ORDINALITY`, and the multi-array zip `UNNEST(a, b) AS u(x, y)`
    * are the same constructs — Postgres zips to the LONGEST array
    * with NULL padding, exactly the Trino contract above. An explicit
    * `LATERAL` keyword between the joiner and UNNEST (Postgres's
    * spelling for the implicit laterality; Trino accepts it too) is
    * consumed — LATERAL VIEW is lateral by construction. The
    * bare-alias single form `UNNEST(arr) AS u` names the COLUMN `u`
    * (the Postgres set-returning-function rule) like BigQuery's.
    * UNNEST as the FIRST (or only) FROM item — `SELECT x FROM
    * UNNEST(…) AS t(x)`, common in Postgres and BigQuery alike — has
    * no relation to hang a LATERAL VIEW on and emits a FROM-less
    * generator subquery instead (`FROM (SELECT explode(…) AS x) t`);
    * every alias/ORDINALITY/OFFSET/zip form composes the same way
    * (r19 review — it fell through to a raw Spark parse error).
    */
  private[graft] val rewriteUnnest: Pass = {
    // `FROM` as a "joiner": UNNEST as the FIRST (or only) FROM item —
    // `SELECT x FROM UNNEST(…) AS t(x)`, the most common standalone
    // Postgres/BigQuery spelling (r19 review: it fell through to a raw
    // Spark parse error). There is no relation to hang a LATERAL VIEW
    // on, so this form emits a FROM-less generator SUBQUERY instead.
    val re = ("(?i)(,|\\bCROSS\\s+JOIN\\b|\\bLEFT\\s+JOIN\\b|\\bFROM\\b)\\s*" +
      "(?:LATERAL\\s+)?UNNEST\\s*\\(").r
    // OPAQUE spans (r19 second review): comment text mentioning
    // `FROM UNNEST(` — likelier now that `FROM` itself is a trigger
    // alternative — must neither fire the rewrite nor skew the
    // argument paren match (the sibling star rewrite got the same
    // generalization this round)
    pass { (sql, spans) =>
      re.findAllMatchIn(sql).filter(m => spans.outside(m.start)).map { m =>
        val joiner = m.group(1).trim.toUpperCase
        val open = m.end - 1
        val close = matchParen(sql, spans, open)
        if (close < 0)
          throw new graft.UnsupportedError(s"unbalanced UNNEST( in: $sql")
        val arrHoles = argRanges(sql, spans, open + 1, close)
        var pos = close + 1 // the clause is read from here on
        def take(re: String): Option[scala.util.matching.Regex.Match] =
          prefixMatch(re.r, sql, pos).map { mm => pos += mm.end; mm }
        def alias(): Option[scala.util.matching.Regex.Match] =
          aliasAt(sql, pos).map { mm => pos += mm.end; mm }
        val ordinality = take("(?is)^\\s*WITH\\s+ORDINALITY\\b").isDefined
        val name = alias().getOrElse(throw new graft.UnsupportedError(
          "FROM-clause UNNEST requires an [AS] alias")).group(1)
        // LEFT JOIN … ON TRUE → OUTER (shared by the single- and
        // multi-array branches; r18 review — the block had been
        // copy-pasted)
        def consumeOnTrue(): Boolean =
          if (joiner.startsWith("LEFT")) {
            take("(?is)^\\s*ON\\s+TRUE\\b").getOrElse(throw new graft.UnsupportedError(
              "LEFT JOIN UNNEST is supported only with ON TRUE"))
            true
          } else false
        // the site, given its replacement from the rewritten arrays
        def site(build: Seq[String] => String): Site =
          new Site(if (joiner == "FROM") m.start else wsStart(sql, spans, m.start),
            pos, arrHoles, arrs => Some(build(arrs.map(_.trim))))
        if (arrHoles.length > 1) {
          // Trino multi-array zip (r18) — see the class doc
          val cm = take("(?s)^\\s*\\(([^)]*)\\)")
            .getOrElse(throw new graft.UnsupportedError(
              "multi-array UNNEST requires a table alias with one column " +
                "per array: t(x, y[, ord])"))
          val cols = cm.group(1).split(',').map(_.trim).toSeq
          val want = arrHoles.length + (if (ordinality) 1 else 0)
          if (cols.length != want || !cols.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")))
            throw new graft.UnsupportedError(
              s"multi-array UNNEST table alias must carry exactly $want " +
                s"column name(s) (one per array${if (ordinality) " + the ordinal" else ""}), " +
                s"got: ${cm.group(0).trim}")
          val outer = consumeOnTrue()
          site { arrArgs =>
            val sizes = arrArgs.map(a => s"size($a)").mkString(", ")
            val valFields = arrArgs.zip(cols).map { case (a, c) =>
              s"try_element_at($a, __uni + 1) AS $c"
            }
            val fields = (valFields ++
              (if (ordinality) Seq(s"CAST(__uni + 1 AS BIGINT) AS ${cols.last}") else Nil))
              .mkString(", ")
            val genExpr = s"inline(transform(array_repeat(0, greatest($sizes)), " +
              s"(__unv, __uni) -> struct($fields)))"
            if (joiner == "FROM")
              // first FROM item: FROM-less generator subquery — the
              // struct fields already carry the column names
              s"FROM (SELECT $genExpr) $name"
            else s" LATERAL VIEW ${if (outer) "OUTER " else ""}$genExpr " +
              s"$name AS ${cols.mkString(", ")}"
          }
        } else {
          var tableAlias = "__unnest_" + name
          var colName = name
          var offName: Option[String] = None
          var ordName: Option[String] = None
          take("(?s)^\\s*\\(([^)]*)\\)") match {
            case Some(cm) => // Trino `t(cols)` table alias
              val cols = cm.group(1).split(',').map(_.trim)
              val want = if (ordinality) 2 else 1
              if (cols.length != want || !cols.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")))
                throw new graft.UnsupportedError(
                  (if (ordinality)
                    "UNNEST WITH ORDINALITY table alias must carry exactly two columns (value, ordinal): "
                  else "UNNEST table alias must carry exactly one column: ") + cm.group(0))
              tableAlias = name; colName = cols.head
              if (ordinality) ordName = Some(cols(1))
            case None =>
              if (ordinality)
                throw new graft.UnsupportedError(
                  "UNNEST WITH ORDINALITY requires a two-column table alias t(value, ordinal)")
              // the alias is optional in BigQuery — bare WITH OFFSET
              // names the column `offset`; a following clause keyword is
              // NOT an alias (stop-word filtered)
              if (take("(?is)^\\s*WITH\\s+OFFSET\\b").isDefined)
                offName = Some(alias().map(_.group(1)).getOrElse("offset"))
          }
          val outer = consumeOnTrue()
          site { arrs =>
            val arr = arrs.head
            if (joiner == "FROM") {
              // first FROM item: FROM-less generator subquery (posexplode
              // takes the multi-column generator alias `AS (off, col)`)
              val sub = (offName, ordName) match {
                case (Some(o), _) =>
                  s"(SELECT posexplode($arr) AS ($o, $colName)) $tableAlias"
                case (None, Some(ord)) =>
                  s"(SELECT inline(transform($arr, (__unv, __uni) -> " +
                    s"struct(__unv AS $colName, CAST(__uni + 1 AS BIGINT) AS $ord)))) " +
                    tableAlias
                case (None, None) =>
                  s"(SELECT explode($arr) AS $colName) $tableAlias"
              }
              s"FROM $sub"
            } else {
              val gen = (offName, ordName) match {
                case (Some(o), _) => s"posexplode($arr) $tableAlias AS $o, $colName"
                case (None, Some(ord)) =>
                  s"inline(transform($arr, (__unv, __uni) -> " +
                    s"struct(__unv AS $colName, CAST(__uni + 1 AS BIGINT) AS $ord))) " +
                    s"$tableAlias AS $colName, $ord"
                case (None, None) => s"explode($arr) $tableAlias AS $colName"
              }
              s" LATERAL VIEW ${if (outer) "OUTER " else ""}$gen"
            }
          }
        }
      }
    }
  }

  /** ANSI/Trino/Postgres `ARRAY[e1, e2, …]` literal constructor → Spark
    * `array(e1, e2, …)`. Spark's parser has no bracket constructor (its
    * brackets are subscripts only), so the bracketed body is re-emitted
    * in call form; an `ARRAY[]` empty literal (legal in Postgres only
    * with a cast, in Trino bare) becomes `array()`. A bare subscript
    * (`arr[1]`) has no ARRAY keyword and is never touched.
    */
  private[graft] val rewriteArrayLiteral: Pass = pass((sql, spans) =>
    callSites(sql, spans, "ARRAY", "[")((_, items) => Some("array(" + items.mkString(",") + ")")))

  /** ClickHouse `[LEFT] ARRAY JOIN <expr> AS <alias>[, <expr> AS
    * <alias>…]` clause → Spark `LATERAL VIEW [OUTER] explode`
    * (single array) or `LATERAL VIEW [OUTER] inline(...)` (multi-array
    * zip, r13). LEFT ARRAY JOIN keeps empty-array rows with a NULL
    * element — exactly OUTER explode/inline's contract. Aliases are
    * REQUIRED on every item (ClickHouse's bare form replaces the source
    * column in place, which a LATERAL VIEW cannot express without
    * shadowing — fail fast rather than emit an ambiguous name).
    *
    * The multi-array form zips POSITIONALLY, exactly ClickHouse's
    * semantics: one output row per index, each alias bound to its
    * array's element at that index. Emitted as
    * `inline(transform(array_repeat(0, greatest(size(a), size(b))),
    * (_, i) -> struct(try_element_at(a, i+1) AS x,
    * try_element_at(b, i+1) AS y)))` — index-driven so empty inputs
    * yield zero rows (`array_repeat` count 0/-1 → empty array, dodging
    * `sequence(1, 0)`'s descending-step trap), and `try_element_at`
    * NULL-pads where ClickHouse would error on unequal lengths (the
    * one documented divergence — padding beats a runtime abort in a
    * shim whose inputs are equal-length by the source contract).
    */
  private[graft] val rewriteChArrayJoin: Pass = {
    val re = "(?i)\\b(LEFT\\s+)?ARRAY\\s+JOIN\\b".r
    val clauseEnders = Seq("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
      "QUALIFY", "UNION", "SETTINGS", "INTERSECT", "EXCEPT")
    // A following join also ends the clause — cut at the FULL join
    // phrase (type prefix included), not the bare JOIN token, so
    // `ARRAY JOIN arr AS x LEFT JOIN dim ON …` cuts before LEFT instead
    // of leaving it dangling inside the last item. LEFT/RIGHT alone are
    // never enders (they double as string functions — `LEFT(s, 2)`);
    // a chained `[LEFT] ARRAY JOIN` cuts at its own phrase start.
    val stopRe = ("(?i)\\b(?:" + clauseEnders.mkString("|") + ")\\b|" +
      "\\b(?:(?:LEFT|RIGHT|FULL)\\s+(?:OUTER\\s+|SEMI\\s+|ANTI\\s+)?JOIN" +
      "|INNER\\s+JOIN|CROSS\\s+JOIN|(?:LEFT\\s+)?ARRAY\\s+JOIN|JOIN)\\b").r
    val itemRe = "(?is)^(.*\\S)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)$".r
    pass { (sql, spans) =>
      val ms = re.findAllMatchIn(sql).filter(m => spans.outside(m.start)).toVector
      // the clause after `from` ends at the first stop word or join at
      // its paren depth
      def clauseEnd(from: Int): Int = {
        var depth = 0
        var i = from
        stopRe.findAllMatchIn(java.nio.CharBuffer.wrap(sql, from, sql.length))
          .map(from + _.start)
          .find { p =>
            while (i < p) {
              if (spans.outside(i)) {
                val c = sql.charAt(i)
                if (c == '(') depth += 1 else if (c == ')') depth -= 1
              }
              i += 1
            }
            depth == 0 && spans.outside(p)
          }.getOrElse(sql.length)
      }
      var prevEnd = 0
      ms.indices.iterator.map { k =>
        val m = ms(k)
        val outer = m.group(1) != null
        val stop = clauseEnd(m.end)
        // a chained ARRAY JOIN's site starts where this one ends, and
        // the space between the two comes from its own replacement
        val sep = if (stop == sql.length || ms.lift(k + 1).exists(_.start == stop)) "" else " "
        val floor = if (prevEnd <= m.start) prevEnd else 0
        val site = new Site(math.max(wsStart(sql, spans, m.start), floor), stop,
          argRanges(sql, spans, m.end, stop), { texts =>
            val items = texts.map(_.trim).filter(_.nonEmpty)
            if (items.isEmpty)
              throw new graft.UnsupportedError("ARRAY JOIN requires an array expression")
            val pairs = items.map { item =>
              itemRe.findFirstMatchIn(item) match {
                case Some(im) => (im.group(1).trim, im.group(2))
                case None => throw new graft.UnsupportedError(
                  s"ARRAY JOIN requires `expr AS alias` on every item " +
                    s"(the bare in-place form is not supported), got: $item")
              }
            }
            val view = pairs match {
              case Seq((arr, alias)) =>
                s"explode($arr) __aj_$alias AS $alias"
              case many =>
                val sizes = many.map { case (a, _) => s"size($a)" }.mkString(", ")
                val fields = many
                  .map { case (a, al) => s"try_element_at($a, __aji + 1) AS $al" }
                  .mkString(", ")
                val aliases = many.map(_._2).mkString(", ")
                s"inline(transform(array_repeat(0, greatest($sizes)), " +
                  s"(__ajx, __aji) -> struct($fields))) __aj_${many.head._2} AS $aliases"
            }
            Some(s" LATERAL VIEW ${if (outer) "OUTER " else ""}$view$sep")
          })
        prevEnd = stop
        site
      }
    }
  }

  /** T-SQL `PIVOT (agg(col) FOR key IN ([v1], [v2]))` (r13) — T-SQL
    * spells the pivot VALUES as bracketed identifiers; after the
    * bracket→backtick pass they read as backticked identifiers, but
    * Spark's native PIVOT wants literal values with output aliases
    * (`'v1' AS v1`). Each IN item becomes `'v' AS `v`` — numeric tokens
    * stay unquoted so integer pivot keys keep their type — and Spark's
    * own PIVOT executes the clause (the output columns keep T-SQL's
    * value names, which the select list references through the same
    * bracket→backtick pass). Items already spelled as literals or
    * carrying an AS pass through untouched.
    */
  private[graft] val rewriteTsqlPivot: Pass = pass { (sql, spans) =>
    lazy val depth = depthAt(sql, spans)
    "(?i)\\bPIVOT\\s*\\(".r.findAllMatchIn(sql).filter(m => spans.outside(m.start)).map { m =>
      val open = m.end - 1
      val close = matchParen(sql, spans, open)
      if (close < 0)
        throw new graft.UnsupportedError(s"unbalanced PIVOT( in: $sql")
      val body = sql.substring(open + 1, close)
      val inIdx = "(?i)\\bIN\\b".r.findAllMatchIn(body).map(open + 1 + _.start)
        .find(i => depth(i) == depth(open + 1) && spans.outside(i))
        .getOrElse(throw new graft.UnsupportedError(s"PIVOT clause requires FOR … IN (…): $body"))
      val inOpen = body.indexOf('(', inIdx - open - 1) match {
        case -1 => -1
        case i => open + 1 + i
      }
      val inClose = if (inOpen >= 0) matchParen(sql, spans, inOpen) else -1
      if (inOpen < 0 || inClose < 0)
        throw new graft.UnsupportedError(s"unbalanced PIVOT IN (…) in: $body")
      val mapped = splitArgs(sql, spans, inOpen + 1, inClose).map(_.trim).map { it =>
        if (it.startsWith("'") || "(?i)\\bAS\\b".r.findFirstIn(it).isDefined) it
        else {
          val v = it.stripPrefix("`").stripSuffix("`")
          if (!v.matches("[A-Za-z0-9_ .\\-]+"))
            throw new graft.UnsupportedError(s"PIVOT IN value is not a simple token: $it")
          if (v.matches("-?[0-9]+(\\.[0-9]+)?")) s"$v AS `$v`"
          else s"'${v.replace("'", "''")}' AS `$v`"
        }
      }
      // T-SQL REQUIRES a pivot-table alias after the clause; Spark's
      // native PIVOT REJECTS one — strip it (a query referencing the
      // alias elsewhere fails loudly in the analyzer, never silently)
      new Site(m.start, close + 1 + aliasAt(sql, close + 1).fold(0)(_.end),
        Seq((open + 1, inOpen), (inClose, close)), { case Seq(before, after) =>
          Some(sql.substring(m.start, open + 1) + before + "(" + mapped.mkString(", ") + after + ")")
        })
    }
  }

  /** T-SQL `CROSS APPLY STRING_SPLIT(expr, 'sep') [AS] t` /
    * `OUTER APPLY …` → `LATERAL VIEW [OUTER] explode(string_split(…)) t
    * AS value` — the column is named `value` exactly as T-SQL's
    * STRING_SPLIT emits it, and the string_split call itself is mapped
    * to regex-quoted `split` by `split`, the [[stringSplit]] entry in the
    * T-SQL table (its 3-arg `enable_ordinal` form fails fast there), which
    * the site applies to the call it emits. General `APPLY (subquery)`
    * is outside the shimmed surface — unmatched, it fails loudly in
    * Spark's parser.
    */
  private[graft] def tsqlApply(split: String => String): Pass = {
    val re = "(?i)\\b(CROSS|OUTER)\\s+APPLY\\s+STRING_SPLIT\\s*\\(".r
    pass { (sql, spans) =>
      re.findAllMatchIn(sql).filter(m => spans.outside(m.start)).map { m =>
        val outer = m.group(1).equalsIgnoreCase("OUTER")
        val open = m.end - 1
        val close = matchParen(sql, spans, open)
        if (close < 0)
          throw new graft.UnsupportedError(s"unbalanced STRING_SPLIT( in: $sql")
        val aliasM = aliasAt(sql, close + 1)
        val alias = aliasM.fold("__apply")(_.group(1))
        new Site(wsStart(sql, spans, m.start), close + 1 + aliasM.fold(0)(_.end),
          Seq((open + 1, close)), { case Seq(args) =>
            Some(s" LATERAL VIEW ${if (outer) "OUTER " else ""}explode(${split(s"string_split($args)")}) " +
              s"$alias AS value")
          })
      }
    }
  }

  /** Snowflake `TRY_TO_*` conversions → `try_cast` (NULL on failure,
    * matching Snowflake's contract): TRY_TO_NUMBER/DECIMAL/NUMERIC with
    * the default NUMBER(38,0) or explicit (precision, scale);
    * TRY_TO_DOUBLE; TRY_TO_DATE (default format only); TRY_TO_BOOLEAN.
    * Format-string arguments fail fast — Snowflake format elements are
    * not Spark cast semantics and a silent pass-through would parse
    * differently.
    */
  private[graft] val snowTryTo: Calls = Calls(
      "try_to_number|try_to_decimal|try_to_numeric|try_to_double|try_to_date|try_to_boolean") { (fn, args) =>
    val f = fn.toLowerCase
    Some((f, args) match {
      case ("try_to_number" | "try_to_decimal" | "try_to_numeric", Seq(x)) =>
        s"try_cast($x AS DECIMAL(38, 0))"
      case ("try_to_number" | "try_to_decimal" | "try_to_numeric", Seq(x, p, sc))
          if p.matches("\\d+") && sc.matches("\\d+") =>
        s"try_cast($x AS DECIMAL($p, $sc))"
      case ("try_to_double", Seq(x))  => s"try_cast($x AS DOUBLE)"
      case ("try_to_date", Seq(x))    => s"try_cast($x AS DATE)"
      case ("try_to_boolean", Seq(x)) => s"try_cast($x AS BOOLEAN)"
      case _ => throw new graft.UnsupportedError(
        s"$fn with a format argument is not supported (default-format forms only)")
    })
  }

  /** Postgres/DuckDB table-function `GENERATE_SERIES` in the FROM clause
    * (the date-spine / numbers-table idiom) → explode over Spark's
    * `sequence` (both ends inclusive on all three engines):
    *
    *   `FROM generate_series(a, b[, s]) [AS] g`      → `FROM (SELECT
    *       explode(sequence(a, b[, s])) AS g) g`     (uncorrelated)
    *   `FROM generate_series(a, b) [AS] t(i)`        → column name i
    *   `, generate_series(a, b) [AS] g` / `CROSS JOIN …`
    *       → `LATERAL VIEW explode(sequence(a, b)) __gs_g AS g`
    *       (correlated against the preceding table, like Postgres
    *       implicit-LATERAL)
    *
    * A single bare alias names the COLUMN (Postgres' alias-names-the-row
    * convention collapsed to the 1-column case); the `t(i)` form names
    * both. SELECT-position generate_series (DuckDB's scalar-context
    * list form) is outside the shimmed surface and fails at the parser.
    */
  private[graft] val rewriteGenerateSeriesTable: Pass = {
    val re = "(?i)(,|\\bCROSS\\s+JOIN\\b|\\bFROM\\b)\\s*GENERATE_SERIES\\s*\\(".r
    pass { (sql, spans) =>
      re.findAllMatchIn(sql).filter(m => spans.outside(m.start)).map { m =>
        val joiner = m.group(1).trim.toUpperCase
        val open = m.end - 1
        val close = matchParen(sql, spans, open)
        if (close < 0)
          throw new graft.UnsupportedError(s"unbalanced GENERATE_SERIES( in: $sql")
        val argHoles = argRanges(sql, spans, open + 1, close)
        if (argHoles.length < 2 || argHoles.length > 3)
          throw new graft.UnsupportedError(
            "GENERATE_SERIES table function expects (start, stop[, step])")
        val aliasM = aliasAt(sql, close + 1)
          .getOrElse(throw new graft.UnsupportedError(
            "GENERATE_SERIES in FROM requires an [AS] alias"))
        val name = aliasM.group(1)
        var end = close + 1 + aliasM.end
        var (tableAlias, colName) = (name, name)
        prefixMatch("(?s)^\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)".r, sql, end)
          .foreach { cm => colName = cm.group(1); end += cm.end }
        new Site(wsStart(sql, spans, m.start), end, argHoles, { args =>
          val seq = s"sequence(${args.map(_.trim).mkString(", ")})"
          Some(if (joiner == "FROM")
            s" FROM (SELECT explode($seq) AS $colName) $tableAlias"
          else {
            // keep the table alias addressable (t.i) when the t(i) form
            // named both; the bare form needs a distinct generator alias
            val lv = if (colName == tableAlias) "__gs_" + tableAlias else tableAlias
            s" LATERAL VIEW explode($seq) $lv AS $colName"
          })
        })
      }
    }
  }

  /** BigQuery array subscripts `base[OFFSET(i)]` (0-based, erroring on
    * out-of-range — matching Spark's ANSI element_at), `[SAFE_OFFSET(i)]`
    * (0-based, NULL out-of-range), `[ORDINAL(i)]` (1-based, erroring),
    * `[SAFE_ORDINAL(i)]` (1-based, NULL) → `element_at`/`try_element_at`.
    * The base expression is recovered by a backward scan over one postfix
    * primary (identifier chain with call/subscript suffixes, or a
    * parenthesized expression); anything else fails loudly downstream in
    * Spark's parser rather than silently mis-grouping.
    */
  private[graft] val rewriteBqSubscript: Pass = {
    val re = "(?i)\\[\\s*(SAFE_OFFSET|SAFE_ORDINAL|OFFSET|ORDINAL)\\s*\\(".r
    pass { (sql, spans) =>
      re.findAllMatchIn(sql).filter(m => spans.outside(m.start)).map { m =>
        val open = m.end - 1
        val close = matchParen(sql, spans, open)
        if (close < 0)
          throw new graft.UnsupportedError(s"unbalanced ${m.group(1)}( in: $sql")
        var j = close + 1
        while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
        if (j >= sql.length || sql.charAt(j) != ']')
          throw new graft.UnsupportedError(
            s"expected ] after ${m.group(1)}(${sql.substring(open + 1, close).trim})")
        // the base is one postfix primary, so `a[OFFSET(0)][OFFSET(1)]`
        // holds the first subscript's site in its base
        val baseStart = primaryStartBefore(sql, spans, m.start)
        new Site(baseStart, j + 1, Seq((baseStart, m.start), (open + 1, close)), { texts =>
          val Seq(base, idx) = texts.map(_.trim)
          if (base.isEmpty)
            throw new graft.UnsupportedError(
              s"cannot locate the array expression before [${m.group(1)}(...)]")
          // index guards: BigQuery's SAFE_ forms return NULL for ANY
          // out-of-range index including negatives and ORDINAL(0), but
          // Spark's element_at reads a NEGATIVE index from the array END
          // (silent wrong value) and throws on 0 even in the try_ form —
          // so non-positive indices are mapped to NULL (SAFE_) or to the
          // erroring 0 (plain forms, which BigQuery also errors on)
          Some(m.group(1).toLowerCase match {
            case "offset" =>
              s"element_at($base, (CASE WHEN ($idx) >= 0 THEN ($idx) + 1 ELSE 0 END))"
            case "safe_offset" =>
              s"try_element_at($base, (CASE WHEN ($idx) >= 0 THEN ($idx) + 1 END))"
            case "ordinal" =>
              s"element_at($base, (CASE WHEN ($idx) >= 1 THEN ($idx) ELSE 0 END))"
            case _ =>
              s"try_element_at($base, (CASE WHEN ($idx) >= 1 THEN ($idx) END))"
          })
        })
      }
    }
  }

  /** Start index of the postfix primary ending just before `posEx`:
    * walks backwards over identifier characters, `.` chains, and balanced
    * `(...)`/`[...]` suffix groups.
    */
  private def primaryStartBefore(sql: String, spans: Spans,
      posEx: Int): Int = {
    var i = posEx - 1
    while (i >= 0 && sql.charAt(i).isWhitespace) i -= 1
    while (i >= 0) {
      val c = sql.charAt(i)
      val sp = spans.at(i)
      if (sp.exists(_.kind == SpanKind.Ident)) i = sp.get.start - 1 // a quoted name is one token
      else if (sp.isDefined) return i + 1
      else if (c == ')' || c == ']') {
        val o = backwardMatch(sql, spans, i)
        if (o < 0) return i + 1
        i = o - 1
      } else if (c.isLetterOrDigit || c == '_' || c == '.') i -= 1
      else return i + 1
    }
    0
  }

  /** Index of the opener matching the closer at `closeIdx`, scanning
    * backwards over the lexer's spans; -1 when unbalanced.
    */
  private def backwardMatch(sql: String, spans: Spans,
      closeIdx: Int): Int = {
    val closeC = sql.charAt(closeIdx)
    val openC = if (closeC == ')') '(' else '['
    var depth = 0
    var i = closeIdx
    while (i >= 0) {
      if (spans.outside(i)) {
        val c = sql.charAt(i)
        if (c == closeC) depth += 1
        else if (c == openC) { depth -= 1; if (depth == 0) return i }
      }
      i -= 1
    }
    -1
  }

  /** Snowflake `[ , | CROSS JOIN ] LATERAL FLATTEN(input => e
    * [, path => 'a.b'][, outer => true][, mode => 'ARRAY']) [AS] f` →
    * `LATERAL VIEW [OUTER] posexplode(e[.a.b]) f AS index, value`.
    * `f.index` (0-based) and `f.value` keep their Snowflake names;
    * `outer => true` keeps empty/NULL-array rows with NULL index/value
    * (OUTER posexplode's contract). `path` (r13) navigates INTO the
    * input before flattening exactly as Snowflake's dotted/subscripted
    * VARIANT path does — emitted as Spark struct-field/array-subscript
    * navigation `($e).a[0].b`, so it works over any struct/array column
    * and fails in the analyzer (not silently) when the field is absent;
    * the path literal must be a constant `'ident[i].…'` chain.
    * `mode => 'ARRAY'` is accepted as a no-op (posexplode IS array
    * mode). `mode => 'OBJECT'` (r14) iterates object KEYS:
    * `LATERAL VIEW [OUTER] explode($e) f AS key, value` — Spark's MAP
    * explode emits exactly Snowflake's (key, value) pair per entry, so
    * the input must be MAP-typed (Spark's VARIANT-object analogue; a
    * struct input fails loudly in the analyzer). When the input is
    * spelled as the canonical `OBJECT_CONSTRUCT(k, v, …)` call (already
    * renamed to named_struct by the Snowflake table, which runs first), the whole
    * call is swapped to Spark's `map(k, v, …)` so the idiomatic
    * Snowflake text works end-to-end; entry ORDER follows the
    * construct's argument order (Snowflake sorts VARIANT object keys —
    * queries that need that order must sort explicitly, which the gate
    * does). The VARIANT-metadata output columns (r15): `f.path` is
    * exactly `'[' || index || ']'` for the non-recursive path-less
    * ARRAY flatten and `f.this` is the flattened input itself — both
    * substituted at every reference site; `f.seq` (an arbitrary
    * per-input-row number even in Snowflake) and `mode => 'BOTH'` /
    * `recursive => true` stay outside the shimmed surface — fail fast
    * with named errors.
    */
  private[graft] def rewriteSnowFlatten(sql: String): String = {
    if ("(?i)FLATTEN".r.findFirstIn(sql).isEmpty) return sql
    val re = "(?i)(,|\\bCROSS\\s+JOIN\\b)\\s*LATERAL\\s+FLATTEN\\s*\\(".r
    // each FLATTEN's alias, flattened input and path, in statement order
    final case class Flat(alias: String, e: String, path: Option[String], objectMode: Boolean)
    val flats = scala.collection.mutable.ArrayBuffer.empty[Flat]
    val out = rewriteSites(sql) { spans =>
      re.findAllMatchIn(sql).filter(m => spans.outside(m.start)).map { m =>
        val open = m.end - 1
        val close = matchParen(sql, spans, open)
        if (close < 0)
          throw new graft.UnsupportedError(s"unbalanced FLATTEN( in: $sql")
        val aliasM = aliasAt(sql, close + 1)
        new Site(wsStart(sql, spans, m.start), close + 1 + aliasM.fold(0)(_.end),
            argRanges(sql, spans, open + 1, close), { texts =>
          var input: Option[String] = None
          var outer = false
          var path: Option[String] = None
          var objectMode = false
          val named = "(?is)^([A-Za-z_]+)\\s*=>\\s*(.*)$".r
          texts.map(_.trim).foreach {
            case named(k, v) => k.toLowerCase match {
              case "input" => input = Some(v.trim)
              case "outer" => outer = v.trim.equalsIgnoreCase("true")
              case "path" =>
                val lit = "(?s)^'([^']*)'$".r.findFirstMatchIn(v.trim)
                  .getOrElse(throw new graft.UnsupportedError(
                    s"FLATTEN path must be a constant string literal, got: ${v.trim}"))
                val p = lit.group(1).trim
                val pathShape =
                  "[A-Za-z_][A-Za-z0-9_]*(\\[[0-9]+\\])*(\\.[A-Za-z_][A-Za-z0-9_]*(\\[[0-9]+\\])*)*"
                if (p.nonEmpty && !p.matches(pathShape))
                  throw new graft.UnsupportedError(
                    s"FLATTEN path => '$p' is not a dotted/subscripted field chain")
                if (p.nonEmpty) path = Some(p)
              case "mode" =>
                val mv = v.trim.stripPrefix("'").stripSuffix("'")
                if (mv.equalsIgnoreCase("object")) objectMode = true
                else if (!mv.equalsIgnoreCase("array"))
                  throw new graft.UnsupportedError(
                    s"FLATTEN mode => '$mv' is not supported (ARRAY and OBJECT are)")
              case "recursive" =>
                if (v.trim.equalsIgnoreCase("true"))
                  throw new graft.UnsupportedError(
                    "FLATTEN recursive => TRUE walks nested VARIANT levels — outside the typed-column surface")
              case other => throw new graft.UnsupportedError(
                s"FLATTEN argument $other => … is not supported (input/path/outer/mode/recursive only)")
            }
            case bare if input.isEmpty => input = Some(bare)
            case bare => throw new graft.UnsupportedError(
              s"unexpected FLATTEN argument: $bare")
          }
          val e = input
            .map { in0 =>
              // canonical OBJECT_CONSTRUCT input (→ named_struct by the
              // table's rename) becomes Spark's map() under OBJECT mode —
              // struct fields aren't explodable, map entries are
              val in =
                if (objectMode) {
                  val wc = "(?is)^named_struct\\s*\\(".r.findFirstMatchIn(in0)
                    .filter { cm =>
                      val iSpans = lex(in0)
                      matchParen(in0, iSpans, cm.end - 1) == in0.length - 1
                    }
                  wc.map(cm => "map(" + in0.substring(cm.end)).getOrElse(in0)
                } else in0
              path.fold(in)(p => s"($in).$p")
            }
            .getOrElse(throw new graft.UnsupportedError(
              "FLATTEN requires input => <array>"))
          val alias = aliasM.getOrElse(throw new graft.UnsupportedError(
            "LATERAL FLATTEN requires an [AS] alias (its value/index columns are referenced through it)"))
            .group(1)
          flats += Flat(alias, e, path, objectMode)
          val view =
            if (objectMode) s"explode($e) $alias AS key, value"
            else s"posexplode($e) $alias AS index, value"
          Some(s" LATERAL VIEW ${if (outer) "OUTER " else ""}$view")
        })
      }
    }
    if (flats.isEmpty) return out
    // VARIANT-metadata output columns (r15; path-arg form r16): for the
    // non-recursive ARRAY flatten, PATH is '[<index>]' — or
    // '<path>[<index>]' with a path => argument — and THIS is the input
    // being flattened — both derivable, substituted at every reference
    // site, in one pass over the statement. SEQ is an arbitrary
    // per-input-row number even in Snowflake (no deterministic analogue)
    // — named fail-fast.
    val byAlias = flats.reverseIterator.map(f => f.alias.toLowerCase -> f).toMap
    val metaRe = "(?i)\\b([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*(seq|path|this)\\b".r
    // `open`: the aliases whose THIS is being expanded, so an input that
    // names its own flatten's THIS stays as written instead of recursing
    def meta(text: String, open: Set[String]): String = replaceOutside(text, metaRe) { mm =>
      byAlias.get(mm.group(1).toLowerCase).fold(mm.matched) { f =>
        mm.group(2).toLowerCase match {
          case "seq" => throw new graft.UnsupportedError(
            s"FLATTEN column ${f.alias}.seq has no deterministic Spark " +
              "analogue (Snowflake's SEQ is an arbitrary per-input-row " +
              s"number); use ${f.alias}.index or a row_number window")
          case "path" =>
            if (f.objectMode)
              throw new graft.UnsupportedError(
                s"FLATTEN column ${f.alias}.path is only supported for ARRAY mode")
            // ARRAY mode: Snowflake's PATH is '[i]' for a path-less flatten
            // and '<path>[i]' with a path => argument (r16 — the path-arg
            // combination was a named fail-fast before); the path literal
            // is pre-validated as a dotted/subscripted field chain, so
            // splicing it into the string literal is quote-safe
            s"concat('${f.path.getOrElse("")}[', CAST(${f.alias}.index AS STRING), ']')"
          case _ if open(f.alias.toLowerCase) => mm.matched
          case _ => "(" + meta(f.e, open + f.alias.toLowerCase) + ")"
        }
      }
    }
    meta(out, Set.empty)
  }

  /** Trino `TRY(expr)` — NULL instead of error. Spark has no generic TRY;
    * the shimmed forms map onto Spark's try_ family:
    *   TRY(CAST(x AS T))      → try_cast(x AS T)
    *   TRY(element_at(a, i))  → try_element_at(a, i)
    *   TRY(a / b)             → try_divide(a, b)   (single top-level /)
    *   TRY(a % b)             → try_mod(a, b)      (single top-level %)
    * Anything else fails fast — a silently-dropped TRY would turn Trino's
    * NULL-on-error contract into an ANSI runtime error.
    *
    * Division semantics note: `/` carries SPARK division semantics here
    * (integer operands divide to DOUBLE), exactly as the shim's bare
    * `a / b` pass-through already does everywhere — TRY-wrapping changes
    * only the error contract, never the arithmetic, so the two forms stay
    * consistent. Trino's integral `/` is outside the shimmed surface
    * (documented scope, same as the bare operator).
    */
  private[graft] val trinoTry: Calls = Calls("try") { (_, args) =>
    if (args.length != 1)
      throw new graft.UnsupportedError("TRY takes exactly one expression")
    val a = args.head
    val spans = lex(a)
    def wholeCall(name: String): Option[String] = {
      ("(?is)^" + name + "\\s*\\(").r.findFirstMatchIn(a).flatMap { mm =>
        val close = matchParen(a, spans, mm.end - 1)
        if (close >= 0 && a.substring(close + 1).trim.isEmpty)
          Some(a.substring(mm.end - 1)) // the parenthesized argument list
        else None
      }
    }
    def topLevelBinary(op: Char): Option[(String, String)] = {
      var depth = 0
      var at = -1
      var i = 0
      while (i < a.length) {
        if (spans.outside(i)) {
          val c = a.charAt(i)
          if (c == '(' || c == '[') depth += 1
          else if (c == ')' || c == ']') depth -= 1
          else if (c == op && depth == 0) {
            if (at >= 0) return None // more than one — ambiguous, unsupported
            at = i
          }
        }
        i += 1
      }
      if (at < 0) None else Some((a.substring(0, at).trim, a.substring(at + 1).trim))
    }
    Some(wholeCall("cast").map("try_cast" + _)
      .orElse(wholeCall("element_at").map("try_element_at" + _))
      .orElse(topLevelBinary('/').map { case (l, r) => s"try_divide($l, $r)" })
      .orElse(topLevelBinary('%').map { case (l, r) => s"try_mod($l, $r)" })
      .getOrElse(throw new graft.UnsupportedError(
        s"TRY is shimmed for CAST / element_at / single '/' or '%' only, got: TRY($a)")))
  }

  // ---- Tableau-ish helpers ------------------------------------------------

  /** Tableau IF-block → CASE: `IF` → `CASE WHEN`, `ELSEIF` → `WHEN`, at
    * word boundaries outside literals and quoted identifiers. THEN /
    * ELSE / END are CASE's own keywords and pass through, so the block
    * maps keyword-for-keyword with no structural parse. Exact because
    * Tableau's functional conditional is IIF, never a bare `IF(...)`.
    */
  private[graft] val tableauIfBlock: Table =
    Table(Nil, words = Map("if" -> "CASE WHEN", "elseif" -> "WHEN"))

  /** `IIF(test, then, else[, unknown])` → null-aware simple CASE.
    * Tableau sends an UNKNOWN (NULL) test to the optional 4th argument
    * — or NULL — never to `else`; Spark's `if()` sends NULL tests down
    * the else branch. The value-match form `CASE (test) WHEN TRUE …
    * WHEN FALSE …` evaluates the test ONCE (a searched two-branch CASE
    * would evaluate it twice — wrong for non-deterministic or expensive
    * tests) and a NULL test matches neither branch, falling to the
    * CASE default exactly as Tableau specifies.
    */
  private[graft] val tableauIif: Calls = Calls("iif") { (fn, args) =>
    args match {
      case Seq(c, t, f) =>
        Some(s"(CASE ($c) WHEN TRUE THEN $t WHEN FALSE THEN $f END)")
      case Seq(c, t, f, u) =>
        Some(s"(CASE ($c) WHEN TRUE THEN $t WHEN FALSE THEN $f ELSE $u END)")
      case _ => throw new graft.UnsupportedError(
        s"$fn expects (test, then, else[, unknown])")
    }
  }

  /** `COUNTD(x)` → `COUNT(DISTINCT x)` (sqlglot tableau.py reads COUNTD
    * as the distinct count).
    */
  private[graft] val tableauCountd: Calls = Calls("countd") { (fn, args) =>
    if (args.length != 1)
      throw new graft.UnsupportedError(s"$fn expects a single argument")
    Some(s"count(DISTINCT ${args(0)})")
  }

  /** Tableau date-part argument — REQUIRED single-quoted literal (the
    * Tableau functions take `'month'`-style strings, not bare
    * keywords). Unknown parts raise.
    */
  private def tableauPart(arg: String, fn: String): String = {
    val m = """(?s)^'(.*)'$""".r.findFirstMatchIn(arg.trim).getOrElse(
      throw new graft.UnsupportedError(
        s"$fn expects a quoted date-part literal, got: $arg"))
    val p = m.group(1).toLowerCase
    val known = Set("year", "quarter", "month", "week", "day",
      "dayofyear", "weekday", "hour", "minute", "second")
    if (!known.contains(p))
      throw new graft.UnsupportedError(s"$fn date part '$p' is not supported")
    p
  }

  /** Tableau `DATEADD('part', n, expr)` — calendar addition, the same
    * Spark spelling as the Snowflake/T-SQL/Redshift shims share.
    * `'weekday'`/`'dayofyear'` are extraction-only parts and raise.
    */
  private[graft] val tableauDateAdd: Calls = Calls("dateadd") { (fn, args) =>
    if (args.length != 3)
      throw new graft.UnsupportedError(s"$fn expects ('part', n, expr)")
    tableauPart(args(0), fn) match {
      case p @ ("weekday" | "dayofyear") => throw new graft.UnsupportedError(
        s"DATEADD date part '$p' is not supported")
      case p => Some(dateAddExpr(p, args(1), args(2)))
    }
  }

  /** Tableau `DATEDIFF('part', start, end)` — boundary crossings (2
    * months minus a day is still 2 month boundaries) with weeks rolling
    * at SUNDAY, Tableau's default week start (the proleptic Sunday
    * anchor the T-SQL/Redshift shims use).
    */
  private[graft] val tableauDateDiff: Calls = Calls("datediff") { (fn, args) =>
    if (args.length != 3)
      throw new graft.UnsupportedError(s"$fn expects ('part', start, end)")
    Some(boundaryDateDiff(tableauPart(args(0), fn), args(1), args(2),
      "0001-01-07", "date_diff"))
  }

  /** Tableau `DATEPART('part', expr)` → the matching Spark extraction.
    * `'weekday'` → `dayofweek` (both number 1 = Sunday under Tableau's
    * default week start); `'week'` raises — Tableau's week numbering
    * follows the data source's configurable week start, which matches
    * neither `weekofyear` (ISO) nor any other Spark builtin.
    */
  private[graft] val tableauDatePart: Calls = Calls("datepart") { (fn, args) =>
    if (args.length != 2)
      throw new graft.UnsupportedError(s"$fn expects ('part', expr)")
    tableauPart(args(0), fn) match {
      case "week" => throw new graft.UnsupportedError(
        "DATEPART('week', …) numbering depends on the data source's week start — no Spark equivalent")
      case "weekday" => Some(s"dayofweek(${args(1)})")
      case p => Some(s"$p(${args(1)})")
    }
  }

  /** Tableau `DATETRUNC('part', expr)` → `date_trunc` (TIMESTAMP-typed,
    * as Spark defines it — cast at the use site for DATE semantics).
    * `'week'` raises (week-start dependence, as in DATEPART);
    * `'weekday'`/`'dayofyear'` are not truncation units.
    */
  private[graft] val tableauDateTrunc: Calls = Calls("datetrunc") { (fn, args) =>
    if (args.length != 2)
      throw new graft.UnsupportedError(s"$fn expects ('part', expr)")
    tableauPart(args(0), fn) match {
      case "week" => throw new graft.UnsupportedError(
        "DATETRUNC('week', …) depends on the data source's week start — no Spark equivalent")
      case p @ ("weekday" | "dayofyear") => throw new graft.UnsupportedError(
        s"DATETRUNC date part '$p' is not supported")
      case p => Some(s"date_trunc('${p.toUpperCase}', ${args(1)})")
    }
  }

  /** Tableau `DATENAME('part', expr)` — the string spelling of a date
    * part: month and weekday give the English names (Spark
    * `date_format` MMMM/EEEE patterns), numeric parts stringify their
    * DATEPART value. `'week'` raises as in DATEPART.
    */
  private[graft] val tableauDateName: Calls = Calls("datename") { (fn, args) =>
    if (args.length != 2)
      throw new graft.UnsupportedError(s"$fn expects ('part', expr)")
    tableauPart(args(0), fn) match {
      case "week" => throw new graft.UnsupportedError(
        "DATENAME('week', …) numbering depends on the data source's week start — no Spark equivalent")
      case "month" => Some(s"date_format(${args(1)}, 'MMMM')")
      case "weekday" => Some(s"date_format(${args(1)}, 'EEEE')")
      case p => Some(s"CAST($p(${args(1)}) AS STRING)")
    }
  }

  /** Tableau `SPLIT(string, delimiter, token_number)` — literal
    * delimiter, 1-based token number, negative counting from the end.
    * Spark's `split` is regex-based, so the literal delimiter is
    * wrapped in \Q…\E regex quoting. `try_element_at` shares Tableau's
    * 1-based/negative-from-end indexing AND its NULL-for-missing-token
    * behavior (plain `element_at` would raise past the end under ANSI
    * mode). Two-argument `split` is Spark-native and passes through.
    */
  private[graft] val tableauSplit: Calls = Calls("split") { (fn, args) =>
    args match {
      case Seq(s, d, n) =>
        if (!d.matches("(?s)^'.*'$"))
          throw new graft.UnsupportedError(
            s"$fn expects a string-literal delimiter, got: $d")
        Some(s"try_element_at(split($s, concat('\\\\Q', $d, '\\\\E')), $n)")
      case _ => None
    }
  }

  /** Exasol ADD_unit date arithmetic. Exasol's forms are TYPE-PRESERVING
    * (DATE in → DATE out, TIMESTAMP in → TIMESTAMP out):
    *
    *  - ADD_MONTHS/ADD_YEARS emit `x + INTERVAL '1' MONTH/YEAR * n` — a
    *    typed year-month interval, which Spark adds type-preservingly
    *    (date+YM → DATE, timestamp+YM → TIMESTAMP, month-end clamping on
    *    both), where a bare `add_months` would truncate a timestamp's
    *    time-of-day to DATE. (`make_interval`'s CalendarIntervalType is
    *    NOT usable here: Spark promotes date+CalendarInterval to
    *    timestamp.)
    *  - ADD_DAYS/ADD_WEEKS: Spark has no type-preserving day addition
    *    (date + day-time interval promotes to TIMESTAMP), so they emit
    *    `date_add` guarded by a per-row assertion that the input carries
    *    no time-of-day — a midnight timestamp truncates losslessly, any
    *    other raises (the shim family's fail-fast convention) instead of
    *    silently drifting.
    *  - Sub-day forms return TIMESTAMP via timestampadd (Exasol promotes
    *    a DATE input to TIMESTAMP for those too).
    */
  private[graft] val exasolAddUnits: Calls = Calls(
      "add_days|add_weeks|add_months|add_years|add_hours|add_minutes|add_seconds") { (fn, args) =>
    if (args.length != 2)
      throw new graft.UnsupportedError(s"$fn expects (datetime, count)")
    val (x, n) = (args(0), args(1))
    // the IS NULL arm keeps Exasol's NULL-propagation: without it a NULL
    // input makes the midnight predicate NULL, the ELSE branch fires, and
    // raise_error aborts the query where ADD_DAYS(NULL, n) must be NULL
    def guardedDateAdd(days: String): String =
      s"(CASE WHEN ($x) IS NULL " +
        s"OR CAST(CAST(($x) AS DATE) AS TIMESTAMP) = CAST(($x) AS TIMESTAMP) " +
        s"THEN date_add(($x), $days) ELSE raise_error(" +
        s"'${fn.toUpperCase}: TIMESTAMP input with time-of-day is outside the " +
        "shimmed surface (Exasol preserves it; Spark date_add would truncate)') END)"
    Some(fn.toLowerCase match {
      case "add_days"    => guardedDateAdd(s"CAST($n AS INT)")
      case "add_weeks"   => guardedDateAdd(s"(7 * CAST($n AS INT))")
      case "add_months"  => s"(($x) + INTERVAL '1' MONTH * CAST($n AS INT))"
      case "add_years"   => s"(($x) + INTERVAL '1' YEAR * CAST($n AS INT))"
      case "add_hours"   => s"timestampadd(HOUR, CAST($n AS INT), CAST($x AS TIMESTAMP))"
      case "add_minutes" => s"timestampadd(MINUTE, CAST($n AS INT), CAST($x AS TIMESTAMP))"
      case _             => s"timestampadd(SECOND, CAST($n AS INT), CAST($x AS TIMESTAMP))"
    })
  }

  /** Exasol `*_BETWEEN(a, b)` = a − b (first minus second). DAYS_BETWEEN
    * on DATEs is integral → datediff; the sub-day forms return fractional
    * values (Exasol DECIMAL → double here) from the exact epoch-seconds
    * difference. YEARS/MONTHS_BETWEEN are deliberately absent (fractional-
    * month conventions differ — fail fast at Spark's resolver).
    */
  private[graft] val exasolBetweenUnits: Calls = Calls(
      "days_between|hours_between|minutes_between|seconds_between") { (fn, args) =>
    if (args.length != 2)
      throw new graft.UnsupportedError(s"$fn expects (datetime, datetime)")
    val (a, b) = (args(0), args(1))
    val secs = s"(CAST(CAST($a AS TIMESTAMP) AS DOUBLE) - CAST(CAST($b AS TIMESTAMP) AS DOUBLE))"
    Some(fn.toLowerCase match {
      case "days_between"    => s"datediff(CAST($a AS DATE), CAST($b AS DATE))"
      case "hours_between"   => s"($secs / CAST(3600 AS DOUBLE))"
      case "minutes_between" => s"($secs / CAST(60 AS DOUBLE))"
      case _                 => secs
    })
  }

  /** Exasol 2-arg `TRUNC[ATE](date, 'fmt')` with Oracle format names.
    * Spark's own `trunc(date, fmt)` covers the DATE-returning year/
    * quarter/month grains; 'DD' is a plain DATE cast; sub-day grains go
    * through date_trunc (TIMESTAMP result, as in Exasol). 1-arg TRUNC
    * (numeric truncation) and non-literal formats pass through untouched.
    * 'DAY'/'DY' (Oracle-family week start) are NOT mapped — Spark's
    * trunc('WEEK') is ISO-Monday where Exasol inherits the session-NLS
    * week start, so the safe move is to fail fast.
    */
  private[graft] val exasolTrunc: Calls = Calls("trunc|truncate") { (fn, args) =>
    args match {
      case Seq(x, SingleLiteral(f)) =>
        Some(f.toUpperCase match {
          case "YYYY" | "YEAR" => s"trunc($x, 'YEAR')"
          case "Q"             => s"trunc($x, 'QUARTER')"
          case "MM" | "MONTH"  => s"trunc($x, 'MONTH')"
          case "DD"            => s"CAST($x AS DATE)"
          case "HH"            => s"date_trunc('HOUR', CAST($x AS TIMESTAMP))"
          case "MI"            => s"date_trunc('MINUTE', CAST($x AS TIMESTAMP))"
          case other => throw new graft.UnsupportedError(
            s"$fn format '$other' is outside the shimmed surface")
        })
      // 1-arg TRUNC is numeric truncation — Spark-native, pass through
      case _ => None
    }
  }

  /** Druid ISO-8601 unit period → the (date_trunc / timestampadd) unit
    * name. Only unit periods have a truncation equivalent. */
  private def druidUnit(p: String, fn: String): String = p.toUpperCase match {
    case "PT1S" => "SECOND"
    case "PT1M" => "MINUTE"
    case "PT1H" => "HOUR"
    case "P1D"  => "DAY"
    case "P1W"  => "WEEK"
    case "P1M"  => "MONTH"
    case "P3M"  => "QUARTER"
    case "P1Y"  => "YEAR"
    case other => throw new graft.UnsupportedError(
      s"$fn period '$other' has no unit equivalent in the shimmed surface")
  }

  private val DruidPeriod = """(?i)^P(\d+)([YMWD])$""".r
  private val DruidTimePeriod = """(?i)^PT(\d+)([HMS])$""".r

  /** Druid SQL time-function family (see [[DruidIsh]] for semantics). */
  private[graft] val druidTime: Calls = Calls(
      "time_floor|time_ceil|time_shift|time_extract|time_format|time_parse|" +
      "millis_to_timestamp|timestamp_to_millis") { (fn, args) =>
    def ts(x: String) = s"CAST($x AS TIMESTAMP)"
    Some((fn.toLowerCase, args) match {
      case ("time_floor", Seq(x, SingleLiteral(p))) =>
        s"date_trunc('${druidUnit(p, fn)}', ${ts(x)})"
      case ("time_ceil", Seq(x, SingleLiteral(p))) =>
        val u = druidUnit(p, fn)
        s"(CASE WHEN date_trunc('$u', ${ts(x)}) = ${ts(x)} THEN ${ts(x)} " +
          s"ELSE timestampadd($u, 1, date_trunc('$u', ${ts(x)})) END)"
      case ("time_shift", Seq(x, SingleLiteral(p), n)) =>
        val (count, unit) = p.toUpperCase match {
          case DruidPeriod(c, "Y") => (c, "YEAR")
          case DruidPeriod(c, "M") => (c, "MONTH")
          case DruidPeriod(c, "W") => (c, "WEEK")
          case DruidPeriod(c, "D") => (c, "DAY")
          case DruidTimePeriod(c, "H") => (c, "HOUR")
          case DruidTimePeriod(c, "M") => (c, "MINUTE")
          case DruidTimePeriod(c, "S") => (c, "SECOND")
          case other => throw new graft.UnsupportedError(
            s"$fn period '$other' is outside the shimmed surface")
        }
        s"timestampadd($unit, ($count * CAST($n AS INT)), ${ts(x)})"
      case ("time_extract", Seq(x, SingleLiteral(u))) =>
        u.toUpperCase match {
          case "SECOND" | "MINUTE" | "HOUR" | "DAY" | "WEEK" | "MONTH" |
               "QUARTER" | "YEAR" =>
            s"extract(${u.toUpperCase} FROM ${ts(x)})"
          case "DOY" => s"dayofyear(${ts(x)})"
          // Druid DOW is ISO (Monday = 1); Spark dayofweek is Sunday = 1
          case "DOW" => s"(((dayofweek(${ts(x)}) + 5) % 7) + 1)"
          case "EPOCH" => s"CAST(${ts(x)} AS BIGINT)"
          case other => throw new graft.UnsupportedError(
            s"$fn unit '$other' is outside the shimmed surface")
        }
      case ("time_format", Seq(x, f)) => s"date_format(${ts(x)}, $f)"
      case ("time_parse", Seq(x))     => s"to_timestamp($x)"
      case ("time_parse", Seq(x, f))  => s"to_timestamp($x, $f)"
      case ("millis_to_timestamp", Seq(x)) => s"timestamp_millis(CAST($x AS BIGINT))"
      case ("timestamp_to_millis", Seq(x)) => s"unix_millis(${ts(x)})"
      case (_, got) => throw new graft.UnsupportedError(
        s"$fn: unsupported argument shape (${got.length} args)")
    })
  }

  /** Druid integer `DIV(x, y)` → the DIV operator on BIGINT operands
    * (Druid DIV is 64-bit integer division, truncating toward zero —
    * exactly Spark's `DIV`).
    */
  private[graft] val druidDiv: Calls = Calls("div") { (_, args) =>
    if (args.length != 2)
      throw new graft.UnsupportedError("DIV expects (x, y)")
    Some(s"(CAST(${args(0)} AS BIGINT) DIV CAST(${args(1)} AS BIGINT))")
  }
}
