package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One generated statement: text in `dialect`, plus a Spark-SQL twin that
  * must give the same rows. `kind` is `short` or the long-statement shape.
  */
final case class Stmt(id: String, dialect: String, kind: String, sql: String, twin: String) {
  def bytes: Int = sql.getBytes(UTF_8).length
  def long: Boolean = kind != "short"
}

/** Seeded generator of the `dialect_mix` statements over the sf0.001 tables.
  *
  * The pool's shape is fixed: which template, dialect and target length sits
  * at each position never changes, so every seed has the same length and
  * dialect distribution. The seed picks the literals, thresholds and limits
  * in every statement, and the order statements run in. The same seed gives
  * byte-identical SQL.
  *
  * Short statements (under 2 KB) each use several dialect constructs. Long
  * statements are machine-generated: quoted-literal IN lists, CASE chains and
  * wide cast lists, with embedded quotes and backslashes written in each
  * dialect's own literal syntax.
  */
object DialectMix {
  /** Dialects whose literals double quotes and read backslash as a plain
    * character; the others escape both with a backslash, as Spark does. */
  private val ansiLiterals = Set("duckdb", "trino", "postgres", "tsql")

  /** Long statements: dialect, shape and target length. The two largest are
    * IN lists in dialects whose rewrite is super-linear in literal count. */
  val longSpecs: Seq[(String, String, Int)] = Seq(
    ("tsql", "cast_list", 2048), ("postgres", "case_chain", 5120),
    ("snowflake", "in_list", 12288), ("duckdb", "in_list", 12288))
  /** The engine refuses a statement with more than 64 `::` casts, or with
    * more than 256 calls of one function it rewrites (T-SQL CONVERT); past
    * these counts the cast list switches to plain CAST. */
  private val maxColonCasts = 60
  private val maxConverts = 200

  def lit(dialect: String, v: String): String =
    if (ansiLiterals(dialect)) "'" + v.replace("'", "''") + "'"
    else sparkLit(v)

  def sparkLit(v: String): String = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

  private final class Params(r: SplittableRandom) {
    def int(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def of[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def seg: String = of(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
    def status: String = of(Seq("F", "O", "P"))
    def priority: String = of(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
    def price: Int = int(20000, 400000)
    def bal: Int = int(-500, 8000)
    def limit: Int = int(20, 200)
    def date: String = f"${int(1995, 2000)}-${int(1, 12)}%02d-${int(1, 28)}%02d"
  }

  /** Short templates: (dialect, params) => (sql, twin). */
  private val shortTemplates: Seq[(String, Params => (String, String))] = Seq(
    "duckdb" -> { p =>
      val (seg, x, d, lim) = (p.seg, p.bal, p.int(2, 50), p.limit)
      (s"""SELECT "c_custkey" AS k, c_name::VARCHAR(40) AS n, FLOOR(c_acctbal)::BIGINT // $d AS b,
          |  len(c_name) AS l, c_mktsegment AS seg
          |FROM customer WHERE c_mktsegment == '$seg' AND c_acctbal > $x
          |ORDER BY k LIMIT $lim""".stripMargin,
        s"""SELECT c_custkey AS k, CAST(c_name AS STRING) AS n, CAST(FLOOR(c_acctbal) AS BIGINT) DIV $d AS b,
          |  length(c_name) AS l, c_mktsegment AS seg
          |FROM customer WHERE c_mktsegment = '$seg' AND c_acctbal > $x
          |ORDER BY k LIMIT $lim""".stripMargin)
    },
    "duckdb" -> { p =>
      val (st, dt, lim) = (p.status, p.date, p.limit)
      (s"""SELECT o_orderkey AS k, strftime(o_orderdate, '%Y-%m') AS ym,
          |  array_length(string_split(o_orderpriority, '-')) AS parts,
          |  list_contains(list_value(o_orderstatus, 'X'), '$st') AS has,
          |  o_totalprice::DECIMAL(12,2) AS tp
          |FROM orders WHERE o_orderdate >= DATE '$dt' AND "o_orderstatus" <> '$st'
          |ORDER BY k LIMIT $lim""".stripMargin,
        s"""SELECT o_orderkey AS k, date_format(o_orderdate, 'yyyy-MM') AS ym,
          |  size(split(o_orderpriority, '-')) AS parts,
          |  array_contains(array(o_orderstatus, 'X'), '$st') AS has,
          |  CAST(o_totalprice AS DECIMAL(12,2)) AS tp
          |FROM orders WHERE o_orderdate >= DATE '$dt' AND o_orderstatus <> '$st'
          |ORDER BY k LIMIT $lim""".stripMargin)
    },
    "trino" -> { p =>
      val (x, pr, lim) = (p.price, p.priority, p.limit)
      (s"""SELECT o_orderkey AS k, CAST(strpos(o_orderpriority, '-') AS BIGINT) AS dash,
          |  CAST(codepoint(substr(o_orderpriority, 1, 1)) AS BIGINT) AS cp,
          |  "o_orderstatus" AS st, o_totalprice > $x AS big
          |FROM orders WHERE o_orderpriority <> '$pr'
          |ORDER BY k LIMIT $lim""".stripMargin,
        s"""SELECT o_orderkey AS k, CAST(instr(o_orderpriority, '-') AS BIGINT) AS dash,
          |  CAST(ascii(substr(o_orderpriority, 1, 1)) AS BIGINT) AS cp,
          |  o_orderstatus AS st, o_totalprice > $x AS big
          |FROM orders WHERE o_orderpriority <> '$pr'
          |ORDER BY k LIMIT $lim""".stripMargin)
    },
    "trino" -> { p =>
      val (x, nk) = (p.bal, p.int(5, 25))
      (s"""SELECT c_mktsegment AS seg, count(*) AS n, approx_distinct(c_nationkey) AS nn,
          |  CAST(max(c_acctbal) AS DECIMAL(12,2)) AS top
          |FROM customer WHERE c_acctbal > $x AND "c_nationkey" < $nk
          |GROUP BY c_mktsegment ORDER BY seg""".stripMargin,
        s"""SELECT c_mktsegment AS seg, count(*) AS n, approx_count_distinct(c_nationkey) AS nn,
          |  CAST(max(c_acctbal) AS DECIMAL(12,2)) AS top
          |FROM customer WHERE c_acctbal > $x AND c_nationkey < $nk
          |GROUP BY c_mktsegment ORDER BY seg""".stripMargin)
    },
    "postgres" -> { p =>
      val (x, re, lim) = (p.price, p.of(Seq("URGENT|HIGH", "LOW", "MEDIUM|SPEC")), p.limit)
      (s"""SELECT "o_orderkey"::BIGINT AS okey, TO_CHAR(o_orderdate, 'YYYY-MM') AS ym,
          |  SPLIT_PART(o_orderpriority, '-', 2) AS pw, (o_orderpriority ~ '$re') AS hot,
          |  POSITION('-' IN o_orderpriority)::BIGINT AS dash
          |FROM orders WHERE o_totalprice > $x
          |ORDER BY okey LIMIT $lim""".stripMargin,
        s"""SELECT CAST(o_orderkey AS BIGINT) AS okey, date_format(o_orderdate, 'yyyy-MM') AS ym,
          |  split_part(o_orderpriority, '-', 2) AS pw, (o_orderpriority RLIKE '$re') AS hot,
          |  CAST(position('-' IN o_orderpriority) AS BIGINT) AS dash
          |FROM orders WHERE o_totalprice > $x
          |ORDER BY okey LIMIT $lim""".stripMargin)
    },
    "postgres" -> { p =>
      val (x, seg, lim) = (p.bal, p.seg, p.int(5, 25))
      (s"""SELECT c_nationkey AS nk, count(*) FILTER (WHERE c_acctbal > $x) AS rich,
          |  count(*) FILTER (WHERE c_mktsegment = '$seg') AS segn, max(c_acctbal)::BIGINT AS top
          |FROM customer GROUP BY c_nationkey ORDER BY nk LIMIT $lim""".stripMargin,
        s"""SELECT c_nationkey AS nk, count(CASE WHEN c_acctbal > $x THEN 1 END) AS rich,
          |  count(CASE WHEN c_mktsegment = '$seg' THEN 1 END) AS segn, CAST(max(c_acctbal) AS BIGINT) AS top
          |FROM customer GROUP BY c_nationkey ORDER BY nk LIMIT $lim""".stripMargin)
    },
    "snowflake" -> { p =>
      val (x, st, d, pr, lim) = (p.price, p.status, p.int(1, 90), p.priority, p.limit)
      (s"""SELECT o_orderkey AS k, IFF(o_totalprice > $x, 'big', 'small') AS tag,
          |  NVL2(NULLIF(o_orderstatus, '$st'), 'closed', 'open') AS st,
          |  TO_VARCHAR(DATEADD(day, $d, o_orderdate), 'YYYY-MM-DD') AS due,
          |  TO_VARCHAR(o_orderkey) AS ks
          |FROM orders WHERE "o_orderpriority" = '$pr'
          |ORDER BY k LIMIT $lim""".stripMargin,
        s"""SELECT o_orderkey AS k, CASE WHEN o_totalprice > $x THEN 'big' ELSE 'small' END AS tag,
          |  CASE WHEN NULLIF(o_orderstatus, '$st') IS NOT NULL THEN 'closed' ELSE 'open' END AS st,
          |  date_format(date_add(o_orderdate, $d), 'yyyy-MM-dd') AS due,
          |  CAST(o_orderkey AS STRING) AS ks
          |FROM orders WHERE o_orderpriority = '$pr'
          |ORDER BY k LIMIT $lim""".stripMargin)
    },
    "snowflake" -> { p =>
      val (seg, k, lim) = (p.seg, p.int(0, 999), p.limit)
      val note = s"in debt: it's \\ bad $k"
      val skip = s"x'y\\$k"
      (s"""SELECT c_custkey AS k, c_name AS n, IFF(c_acctbal < 0, ${lit("snowflake", note)}, 'ok') AS note
          |FROM customer WHERE c_mktsegment = '$seg' AND c_name <> ${lit("snowflake", skip)}
          |ORDER BY k LIMIT $lim""".stripMargin,
        s"""SELECT c_custkey AS k, c_name AS n, CASE WHEN c_acctbal < 0 THEN ${sparkLit(note)} ELSE 'ok' END AS note
          |FROM customer WHERE c_mktsegment = '$seg' AND c_name <> ${sparkLit(skip)}
          |ORDER BY k LIMIT $lim""".stripMargin)
    },
    "mysql" -> { p =>
      val (x, st, off, lim) = (p.price, p.status, p.int(0, 50), p.limit)
      (s"""SELECT `o_orderkey` AS okey, DATE_FORMAT(o_orderdate, '%Y-%m') AS ym,
          |  UCASE(MID(o_orderpriority, 3, 6)) AS pw, CAST(LOCATE('-', o_orderpriority) AS BIGINT) AS dash,
          |  IFNULL(NULLIF(o_orderstatus, '$st'), 'open') AS st
          |FROM orders WHERE o_totalprice > $x
          |ORDER BY okey LIMIT $off, $lim""".stripMargin,
        s"""SELECT o_orderkey AS okey, date_format(o_orderdate, 'yyyy-MM') AS ym,
          |  upper(substring(o_orderpriority, 3, 6)) AS pw, CAST(instr(o_orderpriority, '-') AS BIGINT) AS dash,
          |  coalesce(NULLIF(o_orderstatus, '$st'), 'open') AS st
          |FROM orders WHERE o_totalprice > $x
          |ORDER BY okey LIMIT $lim OFFSET $off""".stripMargin)
    },
    "mysql" -> { p =>
      val (x, k) = (p.bal, p.int(0, 999))
      val skip = s"O'Hara \\ $k"
      (s"""SELECT c_nationkey AS nk,
          |  GROUP_CONCAT(DISTINCT c_mktsegment ORDER BY c_mktsegment SEPARATOR ',') AS segs,
          |  count(*) AS n
          |FROM customer WHERE c_acctbal > $x AND c_name <> ${lit("mysql", skip)}
          |GROUP BY c_nationkey ORDER BY nk""".stripMargin,
        s"""SELECT c_nationkey AS nk,
          |  array_join(array_sort(collect_set(c_mktsegment)), ',') AS segs,
          |  count(*) AS n
          |FROM customer WHERE c_acctbal > $x AND c_name <> ${sparkLit(skip)}
          |GROUP BY c_nationkey ORDER BY nk""".stripMargin)
    },
    "tsql" -> { p =>
      val (x, st, pr, lim) = (p.price, p.status, p.priority, p.limit)
      (s"""SELECT TOP $lim [o_orderkey] AS okey, ISNULL(NULLIF(o_orderstatus, '$st'), 'open') AS st,
          |  IIF(o_totalprice > $x, 'big', 'small') AS tag,
          |  CONVERT(BIGINT, CHARINDEX('URGENT', [o_orderpriority])) AS urg,
          |  CONVERT(BIGINT, LEN(o_orderpriority)) AS plen,
          |  CONVERT(BIGINT, DATEPART(yyyy, o_orderdate)) AS yr
          |FROM orders WHERE o_orderpriority <> '$pr'
          |ORDER BY o_orderkey""".stripMargin,
        s"""SELECT o_orderkey AS okey, coalesce(NULLIF(o_orderstatus, '$st'), 'open') AS st,
          |  CASE WHEN o_totalprice > $x THEN 'big' ELSE 'small' END AS tag,
          |  CAST(instr(o_orderpriority, 'URGENT') AS BIGINT) AS urg,
          |  CAST(length(o_orderpriority) AS BIGINT) AS plen,
          |  CAST(year(o_orderdate) AS BIGINT) AS yr
          |FROM orders WHERE o_orderpriority <> '$pr'
          |ORDER BY o_orderkey LIMIT $lim""".stripMargin)
    },
    "tsql" -> { p =>
      val (x, k, off, lim) = (p.bal, p.int(0, 999), p.int(0, 10), p.int(5, 20))
      val skip = s"it's \\ $k"
      (s"""SELECT c_nationkey AS nk, COUNT(*) AS n, MAX(LEN(c_name)) AS ml
          |FROM customer WHERE c_acctbal > $x AND c_name <> ${lit("tsql", skip)}
          |GROUP BY c_nationkey ORDER BY nk OFFSET $off ROWS FETCH NEXT $lim ROWS ONLY""".stripMargin,
        s"""SELECT c_nationkey AS nk, COUNT(*) AS n, MAX(length(c_name)) AS ml
          |FROM customer WHERE c_acctbal > $x AND c_name <> ${sparkLit(skip)}
          |GROUP BY c_nationkey ORDER BY nk LIMIT $lim OFFSET $off""".stripMargin)
    })

  /** A long statement of at least `target` bytes in `dialect`. */
  private def longStmt(kind: String, dialect: String, target: Int, p: Params): (String, String) = {
    val sql = new StringBuilder
    val twin = new StringBuilder
    def both(s: String): Unit = { sql ++= s; twin ++= s }
    def value(v: String): Unit = { sql ++= lit(dialect, v); twin ++= sparkLit(v) }
    kind match {
      case "in_list" =>
        both("SELECT c_custkey, c_name, c_mktsegment FROM customer\nWHERE c_name IN (")
        var i = 0
        while (sql.length < target - 120) {
          if (i > 0) both(", ")
          val k = p.int(0, 299)
          value(i % 8 match {
            case 0 => f"Customer#$k%09d"
            case 4 => s"O'N\\$k"
            case _ => s"c$k"
          })
          i += 1
        }
        both(")\n  OR c_mktsegment IN (")
        value(p.seg); both(", "); value("it's \\ none")
        both(")\nORDER BY c_custkey")
      case "case_chain" =>
        val n = math.max(4, target / 52)
        both("SELECT o_orderkey AS k,\n  CASE")
        var i = 0
        while (sql.length < target - 120) {
          val t = 1000 + (i + 1).toLong * 499000 / n + p.int(0, 99)
          both(s" WHEN o_totalprice < $t THEN ")
          value(s"band $i it's \\ ${p.int(0, 9)}")
          i += 1
        }
        both(s" ELSE 'rest' END AS bucket\nFROM orders WHERE o_totalprice > ${p.price / 10}\nORDER BY k LIMIT 300")
      case "cast_list" =>
        both("SELECT o_orderkey AS k")
        var i = 0
        while (sql.length < target - 120) {
          val a = p.int(0, 999)
          if (i % 2 == 0) {
            val e = s"o_totalprice + $a"
            sql ++= (dialect match {
              case "duckdb" | "postgres" if i < maxColonCasts => s",\n  ($e)::BIGINT AS c$i"
              case "tsql" if i < maxConverts => s",\n  CONVERT(BIGINT, $e) AS c$i"
              case _ => s",\n  CAST($e AS BIGINT) AS c$i"
            })
            twin ++= s",\n  CAST($e AS BIGINT) AS c$i"
          } else {
            val v = s"v$a it's \\ $i"
            sql ++= (dialect match {
              case "duckdb" | "postgres" if i < maxColonCasts => s",\n  ${lit(dialect, v)}::VARCHAR(40) AS c$i"
              case "tsql" if i < maxConverts => s",\n  CONVERT(VARCHAR(40), ${lit(dialect, v)}) AS c$i"
              case _ => s",\n  CAST(${lit(dialect, v)} AS VARCHAR(40)) AS c$i"
            })
            twin ++= s",\n  CAST(${sparkLit(v)} AS VARCHAR(40)) AS c$i"
          }
          i += 1
        }
        both(s"\nFROM orders WHERE o_orderkey < ${p.int(200, 1500)}\nORDER BY k LIMIT 100")
    }
    (sql.toString, twin.toString)
  }

  /** The statement pool for one seed, in generation order. */
  def pool(seed: Long): Seq[Stmt] = {
    val root = new SplittableRandom(seed)
    val short = shortTemplates.zipWithIndex.map { case ((dialect, template), i) =>
      val (sql, twin) = template(new Params(root.split()))
      Stmt(f"s$i%03d", dialect, "short", sql, twin)
    }
    val long = longSpecs.zipWithIndex.map { case ((dialect, kind, target), i) =>
      val (sql, twin) = longStmt(kind, dialect, target, new Params(root.split()))
      Stmt(f"l$i%03d", dialect, kind, sql, twin)
    }
    short ++ long
  }

  /** Statement count per KB bucket and the share of long statements. */
  def lengthDistribution(stmts: Seq[Stmt]): (Map[Int, Int], Double) =
    (stmts.groupBy(_.bytes / 1024).map { case (kb, s) => kb -> s.size },
      if (stmts.isEmpty) 0.0 else stmts.count(_.long).toDouble / stmts.size)

  /** Prints the pool for a seed: `DialectMix <seed>`. */
  def main(args: Array[String]): Unit =
    pool(args(0).toLong).foreach { s =>
      println(s"-- ${s.id} ${s.dialect} ${s.kind} ${s.bytes}")
      println(s.sql + ";")
    }
}
