package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public entry point of the engine — the Spark-native equivalent of the
  * reference's single `execute()` API (reference: xorbits_sql/core.py:50-116,
  * xorbits_sql/__init__.py:16).
  *
  * Design (SURVEY.md §3.4): the reference delegates parse/optimize/plan to
  * sqlglot and interprets the plan over xorbits pandas. On Spark both halves
  * are native — we register the caller's DataFrames as temp views and hand
  * the SQL to Catalyst. Parsing, analysis, optimization (predicate pushdown,
  * column pruning, join reordering, subquery decorrelation — SURVEY.md §4.1)
  * and distributed physical execution (hash/sort-merge/broadcast joins,
  * partial aggregation, whole-stage codegen — §4.2) all come from Spark; the
  * engine's own value is the API surface, the dialect shim, and the operator
  * library ([[graft.ops]], [[graft.llm]]).
  *
  * Scale note: nothing here materializes data on the driver. `execute`
  * returns a lazy DataFrame; the plan Catalyst builds is exactly the plan a
  * 1000-executor cluster would run. Table registration reads each table's
  * parquet footer once, in one schema-inference job per table.
  */
object Engine {

  /** Execute SQL over the given tables, returning a lazy DataFrame.
    *
    * @param tables  name → DataFrame; registered as temp views (reference
    *                Table/Tables registry, xorbits_sql/table.py:31-105).
    *                Names may be 1–3 levels ("t", "db.t", "cat.db.t"); nested
    *                names are registered under a mangled flat view name and
    *                qualified references in the SQL are rewritten to match.
    * @param dialect input dialect shim — [[Dialect.Spark]] (no rewrite, the
    *                default) or any dialect [[Dialect.forName]] returns
    *                (DuckDB, Trino, Snowflake, BigQuery, MySQL, Postgres,
    *                SQLite, Oracle, T-SQL, Redshift, Teradata, ClickHouse,
    *                Tableau, Exasol, Druid); its rewrite turns the text
    *                into Spark SQL before Spark parses it.
    */
  def execute(
      spark: SparkSession,
      sql: String,
      tables: Map[String, DataFrame] = Map.empty,
      dialect: Dialect = Dialect.Spark,
      schemas: Map[String, org.apache.spark.sql.types.StructType] = Map.empty): DataFrame = {
    // Distinct registered names that mangle to the same flat view ("db.t",
    // "db__t") or fold to the same identifier per the dialect's case rules
    // ("Foo", "foo" under a lowercasing dialect) would silently clobber
    // each other — Spark's temp-view catalog is case-insensitive, so even
    // a case-SENSITIVE dialect cannot faithfully host both; refuse up
    // front in every case.
    tables.keys.groupBy(n =>
      flatName(normalizeName(n, dialect)).toLowerCase(java.util.Locale.ROOT))
      .collect { case (flat, ns) if ns.size > 1 =>
        throw new ExecuteError(
          s"table names ${ns.mkString(", ")} collide on view name '$flat'; rename one")
      }
    tables.foreach { case (name, df) =>
      val typed = schemas.get(name) match {
        case Some(st) => applySchema(df, st)
        case None => df
      }
      registerTable(spark, normalizeName(name, dialect), typed)
    }
    // schemas also reach the dialect: READ_CSV applies a declared schema for
    // its alias instead of an inference scan (reference executor.py:303-305),
    // so the rewrite itself can raise a Spark error (a missing CSV path)
    try spark.sql(dialect.rewrite(spark, flattenQualifiedNames(sql, tables.keys, dialect), schemas))
    catch {
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new ExecuteError(s"parse error: ${e.getMessage}", e)
      case e: org.apache.spark.sql.AnalysisException =>
        throw new ExecuteError(s"analysis error: ${e.getMessage}", e)
    }
  }

  /** Apply a declared schema to a table by casting the listed columns —
    * the reference's schema argument (xorbits_sql/core.py:60-65, dtype
    * application executor.py:283-288; unlike the reference, non-numeric
    * types are applied too — SURVEY.md §2.9 Q10).
    */
  private[graft] def applySchema(df: DataFrame, st: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    val declared = st.fields.map(f => f.name -> f.dataType).toMap
    df.select(df.columns.map { c =>
      declared.get(c) match {
        case Some(dt) => col(c).cast(dt).as(c)
        case None => col(c)
      }
    }.toSeq: _*)
  }

  /** Rows-as-maps table constructor (reference: list-of-dict tables,
    * xorbits_sql/table.py:92-103). Schema inferred per column from its
    * FIRST NON-NULL value — a deliberate strengthening of the
    * reference's row-0 sampling (core.py:85-91), which would infer
    * string for a leading null and then fail on every later value.
    */
  def tableFromRows(spark: SparkSession, rows: Seq[Map[String, Any]]): DataFrame = {
    require(rows.nonEmpty, "tableFromRows requires at least one row")
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    // column set is the UNION over all rows, not row 0's keys — the same
    // no-trust-in-row-0 rationale as the type scan below; a column first
    // appearing in a later row must not silently vanish
    val cols = rows.iterator.flatMap(_.keys).toSeq.distinct.sorted
    def inferType(v: Any): DataType = v match {
      case _: Int | _: java.lang.Integer => IntegerType
      case _: Long | _: java.lang.Long => LongType
      case _: Double | _: java.lang.Double => DoubleType
      case _: Float | _: java.lang.Float => FloatType
      case _: Boolean | _: java.lang.Boolean => BooleanType
      case _: java.sql.Date => DateType
      case _: java.sql.Timestamp => TimestampType
      case m: Map[_, _] if m.nonEmpty => // key/value types from the first entry
        MapType(inferType(m.head._1), inferType(m.head._2))
      case _: Map[_, _] => MapType(StringType, StringType)
      case s: Seq[_] if s.nonEmpty => ArrayType(inferType(s.head))
      case _: Seq[_] => ArrayType(StringType)
      case _ => StringType
    }
    // infer from the FIRST NON-NULL value per column, not blindly row 0
    // (a null there matches no pattern, infers StringType, and every
    // later non-string value crashes at encoding time); an all-null
    // column stays StringType — the only consistent choice.
    def columnType(c: String): DataType =
      rows.iterator.map(_.getOrElse(c, null)).collectFirst {
        case v if v != null => inferType(v)
      }.getOrElse(StringType)
    val schema = StructType(cols.map(c => StructField(c, columnType(c), nullable = true)))
    val data = rows.map(r => Row.fromSeq(cols.map(c => r.getOrElse(c, null))))
    spark.createDataFrame(spark.sparkContext.parallelize(data.toList), schema)
  }

  /** Register one table; "db.t" / "cat.db.t" become flat views "db__t". */
  private[graft] def registerTable(spark: SparkSession, name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(flatName(name))

  /** Fold a registered table name per the input dialect's unquoted-
    * identifier case rules — the reference's `normalize_name` applied to
    * the table registry (table.py:77,85). Spark's temp-view catalog then
    * resolves case-insensitively, so a query referencing any casing of
    * the folded name finds the view.
    */
  private[graft] def normalizeName(name: String, dialect: Dialect): String =
    dialect.nameFold match {
      case Dialect.NameFold.Lower => name.toLowerCase(java.util.Locale.ROOT)
      case Dialect.NameFold.Upper => name.toUpperCase(java.util.Locale.ROOT)
      case Dialect.NameFold.Sensitive => name
    }

  /** "db.t" → "db__t"; characters Spark's view-name validator rejects
    * (anything non-word) are mapped to '_'.
    */
  private[graft] def flatName(name: String): String =
    name.replace(".", "__").replaceAll("[^A-Za-z0-9_]", "_")

  /** Rewrite qualified references to registered nested tables into their
    * flat view names. Only names the caller registered are touched, and
    * only outside string literals and comments (a literal `'db.t'` must
    * survive); the replacement is literal (no regex group semantics for
    * `$` in names). This scan reads the dialect's RAW text, so it lexes
    * by the dialect's own rules: `"…"` is a string where the dialect
    * reads it as one (Spark's default parser does — `"db.t"` must
    * survive) and an identifier elsewhere (an ANSI `"db.t"` must flatten
    * to resolve against the flat view, as a backticked one does), and
    * backslash escapes apply only where the dialect's literals use them
    * ([[Dialect.literalBackslashEscapes]]) — scanning an ANSI `'C:\'`
    * with escapes would swallow its closing quote.
    */
  private def flattenQualifiedNames(sql: String, names: Iterable[String],
      dialect: Dialect): String = {
    val nested = names.filter(_.contains(".")).toSeq.sortBy(-_.length)
    nested.foldLeft(sql) { (s, n) =>
      val spans = Dialect.lex(s, dialect.literalBackslashEscapes, dialect.doubleQuotedIsString)
      val re = ("(?i)\\b" + java.util.regex.Pattern.quote(n) + "\\b").r
      val out = new StringBuilder
      var last = 0
      re.findAllMatchIn(s).foreach { m =>
        if (spans.at(m.start).forall(_.kind == Dialect.SpanKind.Ident)) {
          out.append(s.substring(last, m.start)).append(flatName(n))
          last = m.end
        }
      }
      out.append(s.substring(last)).toString
    }
  }
}
