package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Sources, Tables}
import OpQueries.OpQ

/** Second wave of operator queries: skew-handling join, approximate
  * aggregates (sketches), and source/sink round-trips through staged
  * files that the DuckDB oracle reads back independently.
  */
object ExtraQueries {

  /** Salted join must be row-identical to the plain equi join — the
    * oracle IS the unsalted join, which is exactly the property salting
    * promises.
    */
  val joinSalted = OpQ("op_join_salted",
    (s, d) => Relational.saltedJoin(
      Tables.load(s, d, "orders"), Tables.load(s, d, "customer"),
      "o_custkey", "c_custkey", saltBuckets = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        Relational.moneySum(col("o_totalprice"), "total"))
      .orderBy(col("c_mktsegment")),
    Some("""SELECT c_mktsegment, COUNT(*) AS n,
           |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS DOUBLE)/100 AS total
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** Distributed connected components ([[Relational.connectedComponents]]):
    * per-customer order chains (each order linked to the customer's next
    * orderkey) form path graphs up to ~11 nodes — long enough that edge
    * relaxation alone would need diameter rounds and the pointer-jumping
    * acceleration shows. The oracle is a DuckDB recursive CTE computing
    * min-reachable-label per node — an independent formulation of the same
    * fixpoint.
    */
  val graphComponents = OpQ("op_graph_components",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val seq = Tables.load(s, d, "orders")
        .filter(col("o_orderkey") < 5000)
        .select(col("o_orderkey").as("node"), col("o_custkey"),
          lead(col("o_orderkey"), 1).over(
            Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))).as("nxt"))
      val edges = seq.filter(col("nxt").isNotNull)
        .select(col("node").as("src"), col("nxt").as("dst"))
      Relational.connectedComponents(edges, nodes = Some(seq.select(col("node"))))
        .orderBy(col("node"))
    },
    Some("""WITH RECURSIVE seq AS (
           |  SELECT o_orderkey AS node, o_custkey,
           |         lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS nxt
           |  FROM orders WHERE o_orderkey < 5000
           |), edges AS (
           |  SELECT node AS src, nxt AS dst FROM seq WHERE nxt IS NOT NULL
           |), undirected AS (
           |  SELECT src AS a, dst AS b FROM edges UNION SELECT dst AS a, src AS b FROM edges
           |), walk(node, lbl) AS (
           |  SELECT node, node FROM seq
           |  UNION
           |  SELECT u.a, w.lbl FROM walk w JOIN undirected u ON u.b = w.node
           |)
           |SELECT node, MIN(lbl) AS component FROM walk
           |GROUP BY node ORDER BY node""".stripMargin))

  /** Fixed-iteration PageRank ([[Relational.pageRank]]) on the
    * customer→order residue graph — 3 damped iterations in exact ppb
    * integer arithmetic, so the DuckDB oracle literally unrolls the
    * same fold (base + two joins + left-join damping per step) and
    * hash-matches bit-for-bit: the iterative-algorithm twin of
    * `op_graph_components`' recursive-CTE gate.
    */
  val graphPageRank = OpQ("op_graph_pagerank",
    (s, d) => {
      val e = Tables.load(s, d, "orders")
        .filter(col("o_orderkey") < 20000)
        .select((col("o_custkey") % 100).as("src"), (col("o_orderkey") % 100).as("dst"))
      Relational.pageRank(e, iterations = 3).orderBy(col("node"))
    },
    Some("""WITH e AS MATERIALIZED (
           |  SELECT DISTINCT o_custkey % 100 AS src, o_orderkey % 100 AS dst
           |  FROM orders WHERE o_orderkey < 20000),
           |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
           |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
           |r0 AS (SELECT node, 1000000000 // (SELECT COUNT(*) FROM nodes) AS r FROM nodes),
           |i1 AS (
           |  SELECT n.node, (15 * (1000000000 // (SELECT COUNT(*) FROM nodes))
           |                  + 85 * COALESCE(s.s, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst, CAST(SUM(r0.r // deg.d) AS BIGINT) AS s
           |    FROM e JOIN deg ON deg.src = e.src JOIN r0 ON r0.node = e.src
           |    GROUP BY e.dst) s ON s.dst = n.node),
           |i2 AS (
           |  SELECT n.node, (15 * (1000000000 // (SELECT COUNT(*) FROM nodes))
           |                  + 85 * COALESCE(s.s, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst, CAST(SUM(i1.r // deg.d) AS BIGINT) AS s
           |    FROM e JOIN deg ON deg.src = e.src JOIN i1 ON i1.node = e.src
           |    GROUP BY e.dst) s ON s.dst = n.node),
           |i3 AS (
           |  SELECT n.node, (15 * (1000000000 // (SELECT COUNT(*) FROM nodes))
           |                  + 85 * COALESCE(s.s, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst, CAST(SUM(i2.r // deg.d) AS BIGINT) AS s
           |    FROM e JOIN deg ON deg.src = e.src JOIN i2 ON i2.node = e.src
           |    GROUP BY e.dst) s ON s.dst = n.node)
           |SELECT node, r AS rank_ppb FROM i3 ORDER BY node""".stripMargin))

  /** Exact bivariate stats ([[Relational.exactCorr]]): covariance and
    * Pearson correlation from six exact integer sums with one deterministic
    * closed form, spelled identically in the oracle — bit-reproducible
    * under any partitioning, unlike streaming corr/covar updates.
    */
  val statsCorr = OpQ("op_stats_corr",
    (s, d) => Relational.exactCorr(
      Tables.load(s, d, "lineitem"),
      col("l_extendedprice"), col("l_quantity"), Seq("l_returnflag"))
      .orderBy(col("l_returnflag")),
    Some("""WITH base AS (
           |  SELECT l_returnflag,
           |         CAST(FLOOR(l_extendedprice) AS BIGINT) AS x,
           |         CAST(FLOOR(l_quantity) AS BIGINT) AS y
           |  FROM lineitem
           |), g AS (
           |  SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           |         SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
           |  FROM base GROUP BY l_returnflag
           |)
           |SELECT l_returnflag, n,
           |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
           |    / (CAST(n AS DOUBLE) - 1) AS covar_samp_exact,
           |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
           |    / CAST(n AS DOUBLE) AS covar_pop_exact,
           |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
           |    / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           |         * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS corr_exact
           |FROM g ORDER BY l_returnflag""".stripMargin))

  /** Bloom-prefiltered semi join ([[Relational.bloomSemiJoin]]): lineitem
    * probed against the hot-order keys through an explicit
    * BloomFilterAggregate scalar subquery before the exact semi join —
    * the big-⋈-big shuffle reducer. The oracle is the plain semi join the
    * operator must be row-identical to (false positives die in the exact
    * join).
    */
  val joinBloomPrefilter = OpQ("op_join_bloom_prefilter",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val hot = Tables.load(s, d, "orders").filter(col("o_totalprice") > 450000)
      Relational.bloomSemiJoin(li, hot, "l_orderkey", "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(500)
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity
           |FROM lineitem
           |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
           |ORDER BY l_orderkey, l_linenumber LIMIT 500""".stripMargin))

  /** MERGE/upsert ([[Relational.upsert]]): a delta of segment updates plus
    * brand-new keys merged into customer — updated rows replaced, unmatched
    * target rows kept, new keys inserted. Oracle spells the same semantics
    * as UNION ALL + NOT IN.
    */
  val mergeUpsert = OpQ("op_merge_upsert",
    (s, d) => {
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val source = cust.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("UPSERTED").as("c_mktsegment"),
          (col("c_acctbal") + 1000).as("c_acctbal"))
        .unionByName(cust.filter(col("c_custkey") < 20)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            lit("INSERTED").as("c_mktsegment"), col("c_acctbal")))
      Relational.upsert(cust, source, Seq("c_custkey")).orderBy(col("c_custkey"))
    },
    Some("""WITH cust AS MATERIALIZED (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
           |source AS (
           |  SELECT c_custkey, 'UPSERTED' AS c_mktsegment, c_acctbal + 1000 AS c_acctbal
           |  FROM cust WHERE c_custkey % 10 = 0
           |  UNION ALL
           |  SELECT c_custkey + 1000000, 'INSERTED', c_acctbal FROM cust WHERE c_custkey < 20
           |)
           |SELECT * FROM source
           |UNION ALL
           |SELECT * FROM cust WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
           |ORDER BY c_custkey""".stripMargin))

  /** Fuzzy join ([[Relational.fuzzyJoinEd1]]): supplier names matched to a
    * perturbed copy (one deletion / one substitution / exact, by key mod
    * 3) through deletion-neighborhood blocking. The oracle is the ground
    * truth the blocking must reproduce exactly: a plain cross join
    * filtered on `levenshtein ≤ 1` (these near-identical names produce
    * many-to-many matches — deleting the last digit makes a name distance
    * 1 from every sibling — so missing ANY candidate pair fails the
    * hash).
    */
  val joinFuzzy = OpQ("op_join_fuzzy",
    (s, d) => {
      val sup = Tables.load(s, d, "supplier").select(col("s_suppkey"), col("s_name"))
      val dirty = sup.select((col("s_suppkey") + 1000).as("d_id"),
        when(col("s_suppkey") % 3 === 0,
          concat(substring(col("s_name"), 1, 9), substring(col("s_name"), 11, 100)))
          .when(col("s_suppkey") % 3 === 1,
            concat(substring(col("s_name"), 1, 17), lit("X")))
          .otherwise(col("s_name")).as("d_name"))
      Relational.fuzzyJoinEd1(sup, dirty, "s_name", "d_name")
        .orderBy(col("s_suppkey"), col("d_id"))
    },
    Some("""WITH dirty AS (
           |  SELECT s_suppkey + 1000 AS d_id,
           |    CASE WHEN s_suppkey % 3 = 0 THEN substr(s_name, 1, 9) || substr(s_name, 11)
           |         WHEN s_suppkey % 3 = 1 THEN substr(s_name, 1, 17) || 'X'
           |         ELSE s_name END AS d_name
           |  FROM supplier)
           |SELECT s.s_suppkey, s.s_name, d.d_id, d.d_name
           |FROM supplier s, dirty d
           |WHERE levenshtein(s.s_name, d.d_name) <= 1
           |ORDER BY s_suppkey, d_id""".stripMargin))

  /** Null-safe equi join — `<=>` as the JOIN condition (NULL keys match
    * each other, the semantics `=` silently drops). Nullable keys
    * constructed with NULLIF; oracle is DuckDB's IS NOT DISTINCT FROM
    * join.
    */
  val joinNullSafe = OpQ("op_join_null_safe",
    (s, d) => {
      val a = Tables.load(s, d, "orders").filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          nullif(col("o_custkey") % 10, lit(3)).as("k"))
      val b = Tables.load(s, d, "customer").filter(col("c_custkey") < 40)
        .select(col("c_custkey"),
          nullif(col("c_custkey") % 10, lit(3)).as("k"))
      a.join(b, a("k") <=> b("k"))
        .select(col("o_orderkey"), col("c_custkey"), a("k").as("k"))
        .orderBy(col("o_orderkey"), col("c_custkey"))
    },
    Some("""SELECT o_orderkey, c_custkey, a.k
           |FROM (SELECT o_orderkey, NULLIF(o_custkey % 10, 3) AS k
           |      FROM orders WHERE o_orderkey < 2000) a
           |JOIN (SELECT c_custkey, NULLIF(c_custkey % 10, 3) AS k
           |      FROM customer WHERE c_custkey < 40) b
           |ON a.k IS NOT DISTINCT FROM b.k
           |ORDER BY o_orderkey, c_custkey""".stripMargin))

  /** NOT IN with a NULL in the subquery — the classic three-valued-logic
    * trap: one NULL in the NOT IN list makes every row's predicate
    * UNKNOWN, so the query must return ZERO rows (NOT EXISTS, by
    * contrast, returns the real complement). Both forms gated; same text
    * both engines.
    */
  val notInNulls = OpQ("op_not_in_nulls",
    (s, d) => {
      Tables.register(s, d)
      s.sql("""SELECT
              |  (SELECT COUNT(*) FROM customer
              |   WHERE c_custkey NOT IN
              |     (SELECT NULLIF(o_custkey, 170) FROM orders WHERE o_orderkey < 100))
              |    AS n_not_in_with_null,
              |  (SELECT COUNT(*) FROM customer c
              |   WHERE NOT EXISTS (SELECT 1 FROM orders
              |     WHERE o_orderkey < 100 AND NULLIF(o_custkey, 170) = c.c_custkey))
              |    AS n_not_exists""".stripMargin)
    },
    Some("""SELECT
           |  (SELECT COUNT(*) FROM customer
           |   WHERE c_custkey NOT IN
           |     (SELECT NULLIF(o_custkey, 170) FROM orders WHERE o_orderkey < 100))
           |    AS n_not_in_with_null,
           |  (SELECT COUNT(*) FROM customer c
           |   WHERE NOT EXISTS (SELECT 1 FROM orders
           |     WHERE o_orderkey < 100 AND NULLIF(o_custkey, 170) = c.c_custkey))
           |    AS n_not_exists""".stripMargin))

  /** Relational division — "customers who ordered in EVERY priority
    * class": the universal-quantifier join, expressed as the scalable
    * count-matching form (group + distinct count = |divisor|), never a
    * nested NOT EXISTS double negation.
    */
  val relDivision = OpQ("op_rel_division",
    (s, d) => {
      val ord = Tables.load(s, d, "orders")
      // divisor size as a 1-row broadcast frame — no eager driver action
      val divisor = ord.agg(countDistinct(col("o_orderpriority")).as("n_total_pri"))
      ord.groupBy(col("o_custkey"))
        .agg(countDistinct(col("o_orderpriority")).as("n_pri"),
          count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(divisor))
        .filter(col("n_pri") === col("n_total_pri"))
        .select(col("o_custkey"), col("n_orders"))
        .orderBy(col("o_custkey"))
    },
    Some("""SELECT o_custkey, COUNT(*) AS n_orders
           |FROM orders
           |GROUP BY o_custkey
           |HAVING COUNT(DISTINCT o_orderpriority) =
           |  (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)
           |ORDER BY o_custkey""".stripMargin))

  /** Cross-engine table checksum ([[Relational.tableChecksum]]): the
    * data-integrity fingerprint itself IS the gate — DuckDB computes the
    * same md5/bit_xor/modular-sum over the same sanitized projection
    * (doubles pre-converted to exact cents; see the operator's caller
    * contract) and must land on identical 60-bit values.
    */
  val tableChecksum = OpQ("op_table_checksum",
    (s, d) => Relational.tableChecksum(
      Tables.load(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("price_cents"),
        col("o_orderdate").cast("string").as("o_orderdate"),
        col("o_orderpriority"))),
    Some("""WITH rh AS (
           |  SELECT ('0x' || substr(md5(
           |    concat_ws(chr(1),
           |      coalesce(o_orderkey::VARCHAR, chr(0) || 'NULL'),
           |      coalesce(o_custkey::VARCHAR, chr(0) || 'NULL'),
           |      coalesce(o_orderstatus, chr(0) || 'NULL'),
           |      coalesce(CAST(FLOOR(o_totalprice * 100) AS BIGINT)::VARCHAR, chr(0) || 'NULL'),
           |      coalesce(CAST(o_orderdate AS TIMESTAMP)::VARCHAR, chr(0) || 'NULL'),
           |      coalesce(o_orderpriority, chr(0) || 'NULL'))), 1, 15))::BIGINT AS h
           |  FROM orders)
           |SELECT COUNT(*) AS n_rows, bit_xor(h) AS xor_checksum,
           |  CAST(SUM(h % 1000000007) % 1000000007 AS BIGINT) AS modsum_checksum
           |FROM rh""".stripMargin))

  /** Table profile ([[Relational.profile]]): per-column nulls / exact
    * distincts / min / max over orders (timestamp projected to string so
    * both engines render it identically; the double column to exact
    * cents). Oracle is a UNION ALL of per-column aggregates.
    */
  val profileTable = OpQ("op_profile_table",
    (s, d) => Relational.profile(
      Tables.load(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("price_cents"),
        col("o_orderdate").cast("string").as("o_orderdate")))
      .orderBy(col("column_name")),
    Some("""WITH t AS MATERIALIZED (SELECT o_orderkey, o_orderstatus,
           |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
           |    CAST(CAST(o_orderdate AS TIMESTAMP) AS VARCHAR) AS o_orderdate
           |  FROM orders)
           |SELECT 'o_orderkey' AS column_name,
           |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  COUNT(DISTINCT o_orderkey) AS n_distinct,
           |  CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
           |  CAST(MAX(o_orderkey) AS VARCHAR) AS max_value FROM t
           |UNION ALL
           |SELECT 'o_orderstatus',
           |  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus) FROM t
           |UNION ALL
           |SELECT 'price_cents',
           |  CAST(SUM(CASE WHEN price_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  COUNT(DISTINCT price_cents),
           |  CAST(MIN(price_cents) AS VARCHAR), CAST(MAX(price_cents) AS VARCHAR) FROM t
           |UNION ALL
           |SELECT 'o_orderdate',
           |  CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  COUNT(DISTINCT o_orderdate), MIN(o_orderdate), MAX(o_orderdate) FROM t
           |ORDER BY column_name""".stripMargin))

  /** [[Relational.profileApprox]] — the corpus-scale profile tier: one
    * aggregation pass, HLL sketch per column, NO Expand multiplication
    * (the exact tier's plan multiplies every scanned row ~(N+1)× for N
    * countDistinct columns). Gate: exact per-column facts hash-exact
    * (nulls/min/max + the exact distinct recomputed for the band) and a
    * 5%-tolerance boolean on the estimate, which the oracle expects TRUE.
    */
  val profileTableApprox = OpQ("op_profile_table_approx",
    (s, d) => {
      val t = Tables.load(s, d, "orders").select(col("o_orderkey"),
        col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("price_cents"),
        col("o_orderdate").cast("string").as("o_orderdate"))
      val approx = Relational.profileApprox(t)
      val exact = Relational.profile(t)
        .select(col("column_name"), col("n_distinct").as("n_distinct_exact"))
      approx.join(exact, "column_name")
        .select(col("column_name"), col("n_nulls"), col("min_value"),
          col("max_value"), col("n_distinct_exact"),
          (abs(col("n_distinct_approx") - col("n_distinct_exact")).cast("double")
            <= lit(0.05) * col("n_distinct_exact").cast("double")).as("within_tol"))
        .orderBy(col("column_name"))
    },
    Some("""WITH t AS MATERIALIZED (SELECT o_orderkey, o_orderstatus,
           |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
           |    CAST(CAST(o_orderdate AS TIMESTAMP) AS VARCHAR) AS o_orderdate
           |  FROM orders)
           |SELECT 'o_orderkey' AS column_name,
           |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
           |  CAST(MAX(o_orderkey) AS VARCHAR) AS max_value,
           |  COUNT(DISTINCT o_orderkey) AS n_distinct_exact,
           |  TRUE AS within_tol FROM t
           |UNION ALL
           |SELECT 'o_orderstatus',
           |  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  MIN(o_orderstatus), MAX(o_orderstatus),
           |  COUNT(DISTINCT o_orderstatus), TRUE FROM t
           |UNION ALL
           |SELECT 'price_cents',
           |  CAST(SUM(CASE WHEN price_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(MIN(price_cents) AS VARCHAR), CAST(MAX(price_cents) AS VARCHAR),
           |  COUNT(DISTINCT price_cents), TRUE FROM t
           |UNION ALL
           |SELECT 'o_orderdate',
           |  CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  MIN(o_orderdate), MAX(o_orderdate),
           |  COUNT(DISTINCT o_orderdate), TRUE FROM t
           |ORDER BY column_name""".stripMargin))

  /** Funnel analysis — staged conversion (view → click within the session
    * horizon → purchase) with strictly ordered timestamps, the standard
    * product-analytics rollup. Three conditional aggregates chained by
    * broadcast join (each stage's frame is one row per user — tiny at any
    * event volume); output is the per-stage user count.
    */
  val funnel = OpQ("op_funnel",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") >= col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") >= col("c_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      val users = ev.select(col("user_id")).distinct()
      users.join(v, Seq("user_id"), "left").join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_users"),
          count(col("v_ts")).as("n_viewed"),
          count(col("c_ts")).as("n_clicked_after_view"),
          count(col("p_ts")).as("n_purchased_after_click"))
    },
    Some("""WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
           |           WHERE event_type = 'view' GROUP BY user_id),
           |c AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM events e
           |      JOIN v ON e.user_id = v.user_id
           |      WHERE e.event_type = 'click' AND e.ts >= v.v_ts
           |      GROUP BY e.user_id),
           |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM events e
           |      JOIN c ON e.user_id = c.user_id
           |      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
           |      GROUP BY e.user_id),
           |u AS (SELECT DISTINCT user_id FROM events)
           |SELECT COUNT(*) AS n_users, COUNT(v_ts) AS n_viewed,
           |  COUNT(c_ts) AS n_clicked_after_view,
           |  COUNT(p_ts) AS n_purchased_after_click
           |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
           |LEFT JOIN p USING (user_id)""".stripMargin))

  /** Cohort retention — users bucketed by first-seen week, activity counted
    * per week offset: the classic retention triangle. Two aggregates (one
    * per-user first-seen, one per (cohort, offset) distinct-user count)
    * with the first-seen frame broadcast back onto the event scan.
    */
  val cohortRetention = OpQ("op_cohort_retention",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("ts").cast("date").as("day"))
      val first = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"))
      ev.join(first, Seq("user_id"))
        .select(col("user_id"),
          date_trunc("week", col("first_day")).cast("date").cast("string").as("cohort_week"),
          (datediff(col("day"), col("first_day")) / 7).cast("long").as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
    Some("""WITH ev AS (SELECT user_id, ts::DATE AS day FROM events),
           |first AS (SELECT user_id, MIN(day) AS first_day FROM ev GROUP BY user_id)
           |SELECT CAST(date_trunc('week', first_day) AS DATE)::VARCHAR AS cohort_week,
           |  CAST((day - first_day) // 7 AS BIGINT) AS week_offset,
           |  COUNT(DISTINCT ev.user_id) AS n_active
           |FROM ev JOIN first ON ev.user_id = first.user_id
           |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin))

  /** Triangle counting — the standard two-join formulation over an
    * oriented edge list (u < v kills each triangle's 6 permutations down
    * to 1): edges(a,b) ⋈ edges(b,c) ⋈ edges(a,c). Derived deterministic
    * graph: 100 nodes, edge (u,v) iff some order links them. Both joins
    * shuffle on edge endpoints — never a node-pair cross product.
    */
  val graphTriangles = OpQ("op_graph_triangles",
    (s, d) => {
      val e = Tables.load(s, d, "orders")
        .select((col("o_custkey") % 100).as("u"), (col("o_orderkey") % 100).as("v"))
        .filter(col("u") < col("v")).distinct()
      val e1 = e.as("e1"); val e2 = e.as("e2"); val e3 = e.as("e3")
      e1.join(e2, col("e1.v") === col("e2.u"))
        .join(e3, col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
        .agg(count(lit(1)).as("n_triangles"))
    },
    Some("""WITH e AS (
           |  SELECT DISTINCT o_custkey % 100 AS u, o_orderkey % 100 AS v
           |  FROM orders WHERE o_custkey % 100 < o_orderkey % 100)
           |SELECT COUNT(*) AS n_triangles
           |FROM e e1 JOIN e e2 ON e1.v = e2.u
           |JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v""".stripMargin))

  /** Time-series gap filling — the date-spine pattern: generate the full
    * calendar with `sequence()` + explode, left-join sparse daily
    * aggregates onto it, zero-fill counts, and forward-fill the last seen
    * value with an IGNORE NULLS running window. Q1-1995 high-value orders
    * hit only 59 of 90 days, so both fills are exercised. The spine is
    * generated, not scanned — at any corpus scale it stays a few thousand
    * rows broadcast to the join.
    */
  val timeseriesGapfill = OpQ("op_timeseries_gapfill",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.load(s, d, "orders")
        .filter(col("o_totalprice") > 400000 &&
          col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1995-04-01")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("n_raw"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("cents_raw"))
      val spine = s.range(1).select(explode(expr(
        "sequence(DATE'1995-01-01', DATE'1995-03-31', interval 1 day)")).as("day"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("day"), "left")
        .select(col("day").cast("string").as("day"),
          coalesce(col("n_raw"), lit(0L)).as("n"),
          coalesce(col("cents_raw"), lit(0L)).as("cents"),
          last(col("cents_raw"), ignoreNulls = true).over(w).as("ff_cents"))
        .orderBy(col("day"))
    },
    Some("""WITH daily AS (
           |  SELECT o_orderdate::DATE AS day, COUNT(*) AS n_raw,
           |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_raw
           |  FROM orders
           |  WHERE o_totalprice > 400000
           |    AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
           |  GROUP BY 1),
           |spine AS (SELECT UNNEST(generate_series(
           |  DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY))::DATE AS day)
           |SELECT CAST(s.day AS VARCHAR) AS day,
           |  COALESCE(n_raw, 0) AS n, COALESCE(cents_raw, 0) AS cents,
           |  last_value(cents_raw IGNORE NULLS) OVER (
           |    ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff_cents
           |FROM spine s LEFT JOIN daily d ON s.day = d.day
           |ORDER BY day""".stripMargin))

  /** IGNORE NULLS window navigation — nth_value/first_value/last_value and
    * lead/lag with null skipping, the forms every sessionized-metrics
    * pipeline leans on. Same SQL text semantics on both engines.
    */
  val windowIgnoreNulls = OpQ("op_window_ignore_nulls",
    (s, d) => {
      Tables.register(s, d)
      s.sql("""SELECT o_orderkey, o_custkey,
              |  first_value(hi) IGNORE NULLS OVER w AS first_hi,
              |  last_value(hi) IGNORE NULLS OVER
              |    (PARTITION BY o_custkey ORDER BY o_orderkey
              |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_hi,
              |  nth_value(hi, 2) IGNORE NULLS OVER w AS second_hi
              |FROM (SELECT o_orderkey, o_custkey,
              |        CASE WHEN o_totalprice > 200000 THEN o_orderkey END AS hi
              |      FROM orders WHERE o_custkey < 200)
              |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
              |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              |ORDER BY o_custkey, o_orderkey""".stripMargin)
    },
    Some("""SELECT o_orderkey, o_custkey,
           |  first_value(hi IGNORE NULLS) OVER w AS first_hi,
           |  last_value(hi IGNORE NULLS) OVER
           |    (PARTITION BY o_custkey ORDER BY o_orderkey
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_hi,
           |  nth_value(hi, 2 IGNORE NULLS) OVER w AS second_hi
           |FROM (SELECT o_orderkey, o_custkey,
           |        CASE WHEN o_totalprice > 200000 THEN o_orderkey END AS hi
           |      FROM orders WHERE o_custkey < 200)
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** GROUPING SETS with grouping() / grouping_id disambiguation — how a
    * reader tells a real NULL group key from a super-aggregate row. Spark
    * spells the bitmask `grouping_id()`, DuckDB `GROUPING(a, b)`; same
    * bit order (first listed key = most significant bit).
    */
  val groupingId = OpQ("op_grouping_id",
    (s, d) => {
      Tables.register(s, d)
      s.sql("""SELECT o_orderpriority, o_orderstatus,
              |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
              |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
              |  CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
              |  COUNT(*) AS n
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
              |                        (o_orderpriority), (o_orderstatus), ())
              |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"""
        .stripMargin)
    },
    Some("""SELECT o_orderpriority, o_orderstatus,
           |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
           |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           |  COUNT(*) AS n
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
           |                        (o_orderpriority), (o_orderstatus), ())
           |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"""
      .stripMargin))

  /** CDC apply ([[Relational.applyCdc]]): a change batch with deletes
    * (`%13`), whole-row updates (`%7`, balance bumped), and inserts (new
    * keys) folded into customer. Oracle spells the same fold as NOT IN +
    * UNION ALL.
    */
  val cdcApply = OpQ("op_cdc_apply",
    (s, d) => {
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val deletes = cust.filter(col("c_custkey") % 13 === 0)
        .select(lit("D").as("op"), col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal"))
      val updates = cust.filter(col("c_custkey") % 13 =!= 0 &&
          col("c_custkey") % 7 === 0)
        .select(lit("U").as("op"), col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal") + 500).as("c_acctbal"))
      val inserts = cust.filter(col("c_custkey") < 30)
        .select(lit("I").as("op"), (col("c_custkey") + 2000000).as("c_custkey"),
          lit("CDC-NEW").as("c_mktsegment"), col("c_acctbal"))
      Relational.applyCdc(cust, deletes.unionByName(updates).unionByName(inserts),
          keys = Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    },
    Some("""WITH cust AS MATERIALIZED (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
           |touched AS (
           |  SELECT c_custkey FROM cust WHERE c_custkey % 13 = 0
           |  UNION ALL
           |  SELECT c_custkey FROM cust WHERE c_custkey % 13 <> 0 AND c_custkey % 7 = 0
           |  UNION ALL
           |  SELECT c_custkey + 2000000 FROM cust WHERE c_custkey < 30)
           |SELECT * FROM cust WHERE c_custkey NOT IN (SELECT c_custkey FROM touched)
           |UNION ALL
           |SELECT c_custkey, c_mktsegment, c_acctbal + 500
           |FROM cust WHERE c_custkey % 13 <> 0 AND c_custkey % 7 = 0
           |UNION ALL
           |SELECT c_custkey + 2000000, 'CDC-NEW', c_acctbal
           |FROM cust WHERE c_custkey < 30
           |ORDER BY c_custkey""".stripMargin))

  /** Histogram binning — fixed-width buckets with exact integer bucket
    * ids (`floor((x − lo) / width)`, identical arithmetic both engines;
    * no width_bucket, whose edge semantics differ across engines), plus
    * exact-cents per-bucket sums. The groupBy carries one row per bucket —
    * the constant-size aggregate any 100 TB profiler wants.
    */
  val histogram = OpQ("op_histogram",
    (s, d) => Tables.load(s, d, "orders")
      .withColumn("bucket",
        floor((col("o_totalprice") - 0) / 50000).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        Relational.moneySum(col("o_totalprice"), "sum_price"))
      .orderBy(col("bucket")),
    Some("""SELECT CAST(FLOOR((o_totalprice - 0) / 50000) AS BIGINT) AS bucket,
           |  COUNT(*) AS n,
           |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS DOUBLE)/100 AS sum_price
           |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin))

  /** SCD-2 history merge ([[Relational.scd2Merge]]): a versioned customer
    * dimension with pre-existing history rows takes a change batch that
    * updates some balances, repeats others unchanged, and introduces new
    * keys — changed keys close their current version at the as-of date
    * and open a new one; everything else passes through. Oracle spells
    * all five branches (history / untouched / closed / opened / inserted)
    * as UNION ALL + IN/NOT IN.
    */
  val mergeScd2 = OpQ("op_merge_scd2",
    (s, d) => {
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val current = cust
        .withColumn("valid_from", to_date(lit("2024-01-01")))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
      val history = cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") - 50)
        .withColumn("valid_from", to_date(lit("2023-01-01")))
        .withColumn("valid_to", to_date(lit("2024-01-01")))
        .withColumn("is_current", lit(false))
      val source = cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100)
        .unionByName(cust.filter(col("c_custkey") % 3 === 1))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000))
      Relational.scd2Merge(current.unionByName(history), source,
          keys = Seq("c_custkey"), tracked = Seq("c_nationkey", "c_acctbal"),
          asOf = to_date(lit("2024-06-01")))
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          col("valid_from").cast("string").as("valid_from"),
          col("valid_to").cast("string").as("valid_to"), col("is_current"))
        .orderBy(col("c_custkey"), col("valid_from"), col("is_current"))
    },
    Some("""WITH cust AS MATERIALIZED (SELECT c_custkey, c_nationkey, c_acctbal FROM customer),
           |tcur AS MATERIALIZED (SELECT c_custkey, c_nationkey, c_acctbal,
           |           DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
           |           TRUE AS is_current FROM cust),
           |thist AS (SELECT c_custkey, c_nationkey, c_acctbal - 50 AS c_acctbal,
           |            DATE '2023-01-01' AS valid_from, DATE '2024-01-01' AS valid_to,
           |            FALSE AS is_current FROM cust WHERE c_custkey % 7 = 0),
           |src AS MATERIALIZED (
           |  SELECT c_custkey, c_nationkey, c_acctbal + 100 AS c_acctbal
           |  FROM cust WHERE c_custkey % 3 = 0
           |  UNION ALL SELECT c_custkey, c_nationkey, c_acctbal
           |  FROM cust WHERE c_custkey % 3 = 1
           |  UNION ALL SELECT c_custkey + 1000000, c_nationkey, c_acctbal
           |  FROM cust WHERE c_custkey % 11 = 0),
           |toclose AS (SELECT t.* FROM tcur t JOIN src s USING (c_custkey)
           |            WHERE t.c_acctbal IS DISTINCT FROM s.c_acctbal
           |               OR t.c_nationkey IS DISTINCT FROM s.c_nationkey)
           |SELECT c_custkey, c_nationkey, c_acctbal,
           |  CAST(valid_from AS VARCHAR) AS valid_from,
           |  CAST(valid_to AS VARCHAR) AS valid_to, is_current
           |FROM (
           |  SELECT * FROM thist
           |  UNION ALL
           |  SELECT * FROM tcur
           |  WHERE c_custkey NOT IN (SELECT c_custkey FROM toclose)
           |  UNION ALL
           |  SELECT c_custkey, c_nationkey, c_acctbal, valid_from,
           |    DATE '2024-06-01' AS valid_to, FALSE AS is_current FROM toclose
           |  UNION ALL
           |  SELECT s.c_custkey, s.c_nationkey, s.c_acctbal,
           |    DATE '2024-06-01', CAST(NULL AS DATE), TRUE
           |  FROM src s WHERE s.c_custkey IN (SELECT c_custkey FROM toclose)
           |  UNION ALL
           |  SELECT s.c_custkey, s.c_nationkey, s.c_acctbal,
           |    DATE '2024-06-01', CAST(NULL AS DATE), TRUE
           |  FROM src s WHERE s.c_custkey NOT IN (SELECT c_custkey FROM tcur)
           |) t ORDER BY c_custkey, valid_from, is_current""".stripMargin))

  /** Ordered string aggregation — Spark 4 `listagg … WITHIN GROUP` vs
    * DuckDB's ordered `string_agg`; deterministic because both sides order
    * by the aggregated key.
    */
  val stringAgg = OpQ("op_string_agg",
    (s, d) => {
      Tables.register(s, d)
      s.sql("""SELECT c_mktsegment,
              |  listagg(CAST(c_custkey AS STRING), ',') WITHIN GROUP (ORDER BY c_custkey) AS custs,
              |  CAST(COUNT(*) AS BIGINT) AS n
              |FROM customer WHERE c_custkey < 100
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },
    Some("""SELECT c_mktsegment,
           |  string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS custs,
           |  COUNT(*)::BIGINT AS n
           |FROM customer WHERE c_custkey < 100
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** HyperLogLog++ distinct-count sketch gated by a TOLERANCE oracle:
    * sketch estimates are engine-specific (raw values cannot hash-match),
    * so each engine emits the bit-exact distinct count plus a boolean
    * asserting ITS OWN sketch lands within the 5% band (the ApproxSpec
    * bound). Both engines in-band → identical rows → the driver hashes a
    * real assertion instead of recording `no_oracle`. The sketch is THE
    * 100 TB distinct-count: mergeable, constant memory, one pass.
    */
  val approxCountDistinct = OpQ("op_approx_count_distinct",
    (s, d) => Tables.load(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(approx_count_distinct(col("o_custkey"), rsd = 0.01).as("__a"),
        countDistinct(col("o_custkey")).as("exact_custs"))
      .select(col("o_orderpriority"), col("exact_custs"),
        (abs(col("__a") - col("exact_custs")).cast("double") <=
          lit(0.05) * col("exact_custs").cast("double")).as("within_tol"))
      .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority,
           |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
           |  CAST(abs(approx_count_distinct(o_custkey)
           |    - COUNT(DISTINCT o_custkey)) AS DOUBLE)
           |    <= 0.05 * COUNT(DISTINCT o_custkey) AS within_tol
           |FROM orders GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin))

  /** Quantile sketch (percentile_approx) gated by a tolerance oracle:
    * the DISCRETE exact percentiles (always actual data values — bit-
    * comparable across engines, unlike interpolated percentile_cont on
    * raw doubles) hash-match exactly, and each engine asserts its own
    * sketch within 5% of them.
    */
  val approxQuantile = OpQ("op_approx_quantile",
    (s, d) => Tables.load(s, d, "orders")
      .agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("__a50"),
        percentile_approx(col("o_totalprice"), lit(0.9), lit(10000)).as("__a90"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("exact_p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("exact_p90"))
      .select(col("exact_p50"), col("exact_p90"),
        (abs(col("__a50") - col("exact_p50")) <= lit(0.05) * col("exact_p50")).as("p50_within_tol"),
        (abs(col("__a90") - col("exact_p90")) <= lit(0.05) * col("exact_p90")).as("p90_within_tol")),
    Some("""SELECT
           |  quantile_disc(o_totalprice, 0.5) AS exact_p50,
           |  quantile_disc(o_totalprice, 0.9) AS exact_p90,
           |  abs(approx_quantile(o_totalprice, 0.5)
           |    - quantile_disc(o_totalprice, 0.5))
           |    <= 0.05 * quantile_disc(o_totalprice, 0.5) AS p50_within_tol,
           |  abs(approx_quantile(o_totalprice, 0.9)
           |    - quantile_disc(o_totalprice, 0.9))
           |    <= 0.05 * quantile_disc(o_totalprice, 0.9) AS p90_within_tol
           |FROM orders""".stripMargin))

  /** JSON scalar functions over the events `props` payload plus a
    * constructed nested document (array index + nested-object paths):
    * `get_json_object` path extraction and typed `from_json` on the Spark
    * side vs DuckDB's `json_extract`. Same JSONPath syntax both engines.
    */
  val jsonFunctions = OpQ("op_json_functions",
    (s, d) => graft.Tables.sql(s, d,
      """SELECT event_id,
        |  CAST(get_json_object(props, '$.k') AS BIGINT) AS k,
        |  from_json(props, 'k BIGINT').k AS k2,
        |  CAST(get_json_object(
        |    concat('{"a": [', CAST(event_id % 7 AS STRING), ', 2], "m": {"x": ',
        |           CAST(event_id % 5 AS STRING), '}}'), '$.a[0]') AS BIGINT) AS a0,
        |  CAST(get_json_object(
        |    concat('{"a": [', CAST(event_id % 7 AS STRING), ', 2], "m": {"x": ',
        |           CAST(event_id % 5 AS STRING), '}}'), '$.m.x') AS BIGINT) AS mx
        |FROM events ORDER BY event_id""".stripMargin),
    Some("""SELECT event_id,
           |  json_extract(props, '$.k')::BIGINT AS k,
           |  json_extract(props, '$.k')::BIGINT AS k2,
           |  json_extract('{"a": [' || (event_id % 7)::VARCHAR || ', 2], "m": {"x": '
           |    || (event_id % 5)::VARCHAR || '}}', '$.a[0]')::BIGINT AS a0,
           |  json_extract('{"a": [' || (event_id % 7)::VARCHAR || ', 2], "m": {"x": '
           |    || (event_id % 5)::VARCHAR || '}}', '$.m.x')::BIGINT AS mx
           |FROM events ORDER BY event_id""".stripMargin))

  /** Z-order (Morton) clustering key ([[Layout.zorder2]]) — the layout
    * operator's arithmetic, gated bit-exact: interleaved 16-bit dims of
    * (o_custkey, o_orderkey), DuckDB computing the same spread chain in
    * plain SQL. The write-side shuffle shape (`repartitionByRange` on the
    * key) is gated by LayoutSpec + PlanCheck, not the oracle.
    */
  val layoutZorder = OpQ("op_layout_zorder",
    (s, d) => {
      val base = Tables.load(s, d, "orders").select(col("o_orderkey"),
        (col("o_custkey") % 65536).as("x"),
        (col("o_orderkey") % 65536).as("y"))
      base.withColumn("zvalue", Layout.zorder2(col("x"), col("y")))
        .orderBy(col("zvalue"), col("o_orderkey"))
        .limit(200)
    },
    Some("""WITH b AS (SELECT o_orderkey, o_custkey % 65536 AS x,
           |                  o_orderkey % 65536 AS y FROM orders),
           |c1 AS (SELECT *, (x | (x << 8)) & 16711935 AS ax,
           |               (y | (y << 8)) & 16711935 AS ay FROM b),
           |c2 AS (SELECT *, (ax | (ax << 4)) & 252645135 AS bx,
           |               (ay | (ay << 4)) & 252645135 AS by2 FROM c1),
           |c3 AS (SELECT *, (bx | (bx << 2)) & 858993459 AS cx,
           |               (by2 | (by2 << 2)) & 858993459 AS cy FROM c2),
           |c4 AS (SELECT *, (cx | (cx << 1)) & 1431655765 AS dx,
           |               (cy | (cy << 1)) & 1431655765 AS dy FROM c3)
           |SELECT o_orderkey, x, y, dx | (dy << 1) AS zvalue FROM c4
           |ORDER BY zvalue, o_orderkey LIMIT 200""".stripMargin))

  /** Spark 4 VARIANT ingestion — the modern semi-structured path (binary
    * variant encoding decoded per-path at read time, no per-access
    * re-parse like `get_json_object`): `parse_json` → `variant_get` with
    * typed extraction, plus `try_variant_get` returning NULL on a type
    * mismatch (`$.k` as DATE) instead of failing the query. Oracle:
    * DuckDB `json_extract` of the same paths — the variant layer must be
    * value-transparent.
    */
  val jsonVariant = OpQ("op_json_variant",
    (s, d) => graft.Tables.sql(s, d,
      """SELECT event_id,
        |  variant_get(parse_json(props), '$.k', 'bigint') AS k,
        |  variant_get(parse_json(concat('{"tag": "', event_type, '", "nest": {"v": [',
        |      CAST(event_id % 9 AS STRING), ']}}')), '$.nest.v[0]', 'bigint') AS nv0,
        |  variant_get(parse_json(concat('{"tag": "', event_type, '", "nest": {"v": [',
        |      CAST(event_id % 9 AS STRING), ']}}')), '$.tag', 'string') AS tag,
        |  CAST(try_variant_get(parse_json(props), '$.k', 'date') AS STRING)
        |    AS k_as_date
        |FROM events ORDER BY event_id""".stripMargin),
    Some("""SELECT event_id,
           |  json_extract(props, '$.k')::BIGINT AS k,
           |  json_extract('{"tag": "' || event_type || '", "nest": {"v": ['
           |    || (event_id % 9)::VARCHAR || ']}}', '$.nest.v[0]')::BIGINT AS nv0,
           |  json_extract_string('{"tag": "' || event_type || '", "nest": {"v": ['
           |    || (event_id % 9)::VARCHAR || ']}}', '$.tag') AS tag,
           |  CAST(NULL AS VARCHAR) AS k_as_date
           |FROM events ORDER BY event_id""".stripMargin))

  /** Exact ordered-set aggregates, same text on both engines:
    * PERCENTILE_CONT / PERCENTILE_DISC (WITHIN GROUP) and MEDIAN over
    * integer-valued doubles. Quartile fractions are powers of two, so the
    * linear interpolation is bit-exact regardless of whether an engine
    * computes (1−f)·a+f·b or a+f·(b−a).
    */
  val percentileExact = OpQ("op_percentile_exact",
    (s, d) => graft.Tables.sql(s, d,
      """SELECT l_returnflag,
        |  percentile_cont(0.25) WITHIN GROUP (ORDER BY FLOOR(l_quantity)) AS q1,
        |  percentile_cont(0.5) WITHIN GROUP (ORDER BY FLOOR(l_quantity)) AS q2,
        |  percentile_cont(0.75) WITHIN GROUP (ORDER BY FLOOR(l_quantity)) AS q3,
        |  percentile_disc(0.5) WITHIN GROUP (ORDER BY FLOOR(l_quantity)) AS p50_disc,
        |  median(FLOOR(l_quantity)) AS med
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Some("""SELECT l_returnflag,
           |  percentile_cont(0.25) WITHIN GROUP (ORDER BY FLOOR(l_quantity)) AS q1,
           |  percentile_cont(0.5) WITHIN GROUP (ORDER BY FLOOR(l_quantity)) AS q2,
           |  percentile_cont(0.75) WITHIN GROUP (ORDER BY FLOOR(l_quantity)) AS q3,
           |  percentile_disc(0.5) WITHIN GROUP (ORDER BY FLOOR(l_quantity)) AS p50_disc,
           |  median(FLOOR(l_quantity)) AS med
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** CSV sink → CSV source round-trip. The query stages the region table
    * as pipe-delimited CSV, reads it back with an explicit schema (the
    * reference's READ_CSV dtype path), and the oracle reads the very same
    * staged files with DuckDB's CSV reader — both engines must agree on
    * the parsed content.
    */
  val sourceCsvRoundtrip = OpQ("op_source_csv_roundtrip",
    (s, d) => {
      val path = s"${Sources.stageRoot}/region_csv"
      Sources.writeCsv(Tables.load(s, d, "region").coalesce(1), path, delimiter = "|")
      val schema = StructType(Seq(
        StructField("r_regionkey", LongType), StructField("r_name", StringType)))
      Sources.csv(s, path, delimiter = "|", schema = Some(schema))
        .orderBy(col("r_regionkey"))
    },
    Some(s"""SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
           |FROM read_csv_auto('${Sources.stageRoot}/region_csv/*.csv', header=true, delim='|')
           |ORDER BY r_regionkey""".stripMargin))

  /** JSON-lines sink → source round-trip (growth beyond the reference's
    * CSV-only surface), oracle via DuckDB's JSON reader on the same files.
    */
  val sourceJsonRoundtrip = OpQ("op_source_json_roundtrip",
    (s, d) => {
      val path = s"${Sources.stageRoot}/nation_json"
      Sources.writeJson(Tables.load(s, d, "nation").coalesce(1), path)
      Sources.json(s, path)
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },
    Some(s"""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           |  CAST(n_regionkey AS BIGINT) AS n_regionkey
           |FROM read_json_auto('${Sources.stageRoot}/nation_json/*.json')
           |ORDER BY n_nationkey""".stripMargin))

  /** Partitioned parquet sink → source with partition pruning: write
    * orders partitioned by priority, read back one partition. The pruning
    * (only one directory scanned) is the at-scale point. The oracle reads
    * the ORIGINAL orders table — the check is that partitioned write +
    * pruned read (including partition-column directory reconstruction)
    * reproduces the base data exactly; it also keeps the oracle
    * independent of staging state, so an interleaved run at another SF
    * can never make the compare read a mismatched stage. The stage path
    * is keyed by SF for the same reason (same contract as stagedBlobs).
    */
  val sourcePartitionedParquet = OpQ("op_source_partitioned_parquet",
    (s, d) => {
      val path = s"${Sources.stageRoot}/orders_part_${new java.io.File(d).getName}"
      Sources.writeParquet(
        Tables.load(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority")),
        path, partitionBy = Seq("o_orderpriority"))
      Sources.parquet(s, path)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey
           |FROM orders WHERE o_orderpriority = '1-URGENT'
           |ORDER BY o_orderkey""".stripMargin))

  /** ORC sink → source round-trip (second Spark-native columnar format,
    * beyond the reference's CSV-only surface; filter pushdown reaches the
    * ORC scan just as it does parquet). DuckDB has no ORC reader, so the
    * oracle reads the ORIGINAL parquet table — the check is that the ORC
    * write + filtered read reproduces it bit-exactly, doubles included.
    */
  /** Plain-text sink → source round-trip — the raw corpus-ingestion
    * format (one document per line). Line order is not preserved across
    * a distributed write/read, so the gate is the sorted multiset of
    * lines vs the original table.
    */
  val sourceTextRoundtrip = OpQ("op_source_text_roundtrip",
    (s, d) => {
      // keyed by SF: documents is SF-dependent, and an interleaved run at
      // another SF overwriting the stage between this run's write and read
      // would flake the gate (same contract as orders_part above)
      val path = s"${Sources.stageRoot}/documents_txt_${new java.io.File(d).getName}"
      Sources.writeText(
        Tables.load(s, d, "documents").select(col("text")), path)
      Sources.text(s, path).orderBy(col("value"))
    },
    Some("SELECT text AS value FROM documents ORDER BY value"))

  val sourceOrcRoundtrip = OpQ("op_source_orc_roundtrip",
    (s, d) => {
      // keyed by SF — supplier row count varies with scale factor
      val path = s"${Sources.stageRoot}/supplier_orc_${new java.io.File(d).getName}"
      Sources.writeOrc(
        Tables.load(s, d, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal")),
        path)
      Sources.orc(s, path)
        .filter(col("s_acctbal") > 0.0)
        .orderBy(col("s_suppkey"))
    },
    Some("""SELECT s_suppkey, s_name, s_nationkey, s_acctbal
           |FROM supplier WHERE s_acctbal > 0.0
           |ORDER BY s_suppkey""".stripMargin))

  /** Backward AS-OF join: each purchase event matched to the user's most
    * recent view event at-or-before it (DuckDB has a native ASOF JOIN —
    * the oracle). The right side is pre-aggregated to one row per
    * (user, ts) with max_by/arg_max in both engines, making ties
    * deterministic.
    */
  val joinAsOf = OpQ("op_join_asof",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max(col("event_id")).as("view_event_id"),
          expr("max_by(value, event_id)").as("view_value"))
      Relational.asOfJoin(purchases, views, "user_id", "ts", "view_ts")
        .select(col("event_id"), col("user_id"), col("view_event_id"), col("view_value"))
        .orderBy(col("event_id"))
    },
    Some("""WITH purchases AS (
           |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           |  FROM events WHERE event_type = 'purchase'),
           |views AS (
           |  SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts,
           |    MAX(event_id) AS view_event_id, ARG_MAX(value, event_id) AS view_value
           |  FROM events WHERE event_type = 'view'
           |  GROUP BY user_id, CAST(ts AS TIMESTAMP))
           |SELECT p.event_id, p.user_id, v.view_event_id, v.view_value
           |FROM purchases p ASOF LEFT JOIN views v
           |  ON p.user_id = v.user_id AND p.ts >= v.view_ts
           |ORDER BY p.event_id""".stripMargin))

  /** The NATIVE as-of join ([[graft.plans.AsOfJoinExec]] — custom
    * LogicalPlan + SparkStrategy + SparkPlan, the whole-operator
    * extension tier): same purchases⟕views shape and the same DuckDB
    * `ASOF LEFT JOIN` oracle as `op_join_asof`, so the two
    * implementations are pinned to identical semantics while the plan
    * swaps the union+window for a co-partitioned streaming merge.
    */
  val joinAsOfNative = OpQ("op_join_asof_native",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max(col("event_id")).as("view_event_id"),
          expr("max_by(value, event_id)").as("view_value"))
      graft.plans.AsOfJoin.asOfJoin(purchases, views, "user_id", "ts", "view_ts")
        .select(col("event_id"), col("user_id"), col("view_event_id"), col("view_value"))
        .orderBy(col("event_id"))
    },
    Some("""WITH purchases AS (
           |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           |  FROM events WHERE event_type = 'purchase'),
           |views AS (
           |  SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts,
           |    MAX(event_id) AS view_event_id, ARG_MAX(value, event_id) AS view_value
           |  FROM events WHERE event_type = 'view'
           |  GROUP BY user_id, CAST(ts AS TIMESTAMP))
           |SELECT p.event_id, p.user_id, v.view_event_id, v.view_value
           |FROM purchases p ASOF LEFT JOIN views v
           |  ON p.user_id = v.user_id AND p.ts >= v.view_ts
           |ORDER BY p.event_id""".stripMargin))

  /** Range join via bucketing: quantity bands × lineitem, planned as an
    * equi join on bucket ids + residual filter instead of a nested-loop
    * product. Oracle: the plain non-equi join over the same VALUES bands.
    */
  val joinRange = OpQ("op_join_range",
    (s, d) => {
      import s.implicits._
      val bands = Seq(("tiny", 1.0, 10.0), ("small", 11.0, 20.0),
        ("mid", 21.0, 35.0), ("large", 36.0, 50.0))
        .toDF("band", "lo", "hi")
      Relational.rangeJoin(
        Tables.load(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        "l_quantity", bands, "lo", "hi", bucketWidth = 10.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("band"))
    },
    Some("""SELECT band, COUNT(*) AS n
           |FROM lineitem
           |JOIN (VALUES ('tiny', 1.0, 10.0), ('small', 11.0, 20.0),
           |             ('mid', 21.0, 35.0), ('large', 36.0, 50.0)) b(band, lo, hi)
           |  ON l_quantity >= lo AND l_quantity <= hi
           |GROUP BY band ORDER BY band""".stripMargin))

  /** unionByName — position-independent union (DuckDB: UNION ALL BY NAME). */
  val setUnionByName = OpQ("op_set_union_by_name",
    (s, d) => {
      val a = Tables.load(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"))
      val b = Tables.load(s, d, "supplier")
        .select(col("s_acctbal").as("bal"), col("s_suppkey").as("id")) // reversed order
      a.unionByName(b).groupBy(lit(1).as("grp"))
        .agg(count(lit(1)).as("n"),
          Relational.moneySum(col("bal"), "total_bal"))
    },
    Some("""SELECT 1 AS grp, COUNT(*) AS n,
           |  CAST(SUM(CAST(FLOOR(bal * 100) AS BIGINT)) AS DOUBLE)/100 AS total_bal
           |FROM (
           |  SELECT c_custkey AS id, c_acctbal AS bal FROM customer
           |  UNION ALL BY NAME
           |  SELECT s_acctbal AS bal, s_suppkey AS id FROM supplier)""".stripMargin))

  /** Generator / table function: posexplode with ordinality (the
    * Generator shape from SURVEY §2.8 — reference has no table functions
    * at all).
    */
  val explodeGenerator = OpQ("op_explode_generator",
    (s, d) => Tables.load(s, d, "documents").filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
      .orderBy(col("doc_id"), col("pos")),
    Some("""SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS token
           |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 20) t,
           |  UNNEST(range(1, len(w) + 1)) u(i)
           |ORDER BY doc_id, pos""".stripMargin))

  /** Native recursive CTE (Spark 4 `WITH RECURSIVE`): digit-chop hierarchy
    * over customers — parent(k) = k div 10, roots are custkey &lt; 10 — a
    * 4–6-level tree that labels every customer with its root and depth.
    * The oracle is DuckDB's own WITH RECURSIVE over the identical fixpoint
    * (`//` vs `DIV` spelling is the only dialect delta). The reference has
    * no recursion at all (sqlglot parses it; the executor raises).
    */
  val recursiveCte = OpQ("op_recursive_cte",
    (s, d) => Tables.sql(s, d,
      """WITH RECURSIVE h(custkey, root, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, h.root, h.depth + 1
        |  FROM customer c JOIN h ON c.c_custkey DIV 10 = h.custkey
        |  WHERE c.c_custkey >= 10)
        |SELECT root, COUNT(*) AS n_desc, CAST(MAX(depth) AS BIGINT) AS max_depth
        |FROM h GROUP BY root ORDER BY root""".stripMargin),
    Some("""WITH RECURSIVE h(custkey, root, depth) AS (
           |  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 10
           |  UNION ALL
           |  SELECT c.c_custkey, h.root, h.depth + 1
           |  FROM customer c JOIN h ON c.c_custkey // 10 = h.custkey
           |  WHERE c.c_custkey >= 10)
           |SELECT root, COUNT(*) AS n_desc, CAST(MAX(depth) AS BIGINT) AS max_depth
           |FROM h GROUP BY root ORDER BY root""".stripMargin))

  /** Dataset.unpivot (wide→long melt; the inverse of `op_pivot`). The
    * oracle is the dialect-neutral UNION ALL expansion — exactly the
    * semantics unpivot promises.
    */
  val unpivot = OpQ("op_unpivot",
    (s, d) => Tables.load(s, d, "part")
      .select(col("p_partkey"),
        col("p_retailprice").as("retailprice"),
        col("p_size").cast("double").as("size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("retailprice"), col("size")), "metric", "value")
      .orderBy(col("p_partkey"), col("metric")),
    Some("""SELECT p_partkey, metric, value FROM (
           |  SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
           |  UNION ALL
           |  SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part) t
           |ORDER BY p_partkey, metric""".stripMargin))

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — top-2 customers
    * per nation, the classic lateral top-k shape, running as the SAME SQL
    * text on both engines.
    */
  val joinLateral = OpQ("op_join_lateral",
    (s, d) => Tables.sql(s, d,
      """SELECT n_name, c.c_name, c.c_acctbal FROM nation,
        |  LATERAL (SELECT c_name, c_acctbal FROM customer
        |           WHERE c_nationkey = n_nationkey
        |           ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin),
    Some("""SELECT n_name, c.c_name, c.c_acctbal FROM nation,
           |  LATERAL (SELECT c_name, c_acctbal FROM customer
           |           WHERE c_nationkey = n_nationkey
           |           ORDER BY c_acctbal DESC, c_name LIMIT 2) c
           |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin))

  /** Ordered-sequence pattern match ([[Relational.sequenceMatch]]):
    * view → click → purchase per user, earliest-greedy, whole chain
    * inside 48 hours. Oracle: the same three chained min-aggregations in
    * DuckDB CTEs — the semantics are plain SQL, the operator packages
    * them for arbitrary step lists.
    */
  val sequenceMatch = OpQ("op_sequence_match",
    (s, d) => Relational.sequenceMatch(
      Tables.load(s, d, "events"), "user_id", "ts",
      steps = Seq(col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase"),
      within = Some(expr("INTERVAL 48 HOURS")))
      .select(col("user_id"), col("ts_1").cast("string").as("t_view"),
        col("ts_2").cast("string").as("t_click"),
        col("ts_3").cast("string").as("t_purchase"))
      .orderBy(col("user_id")),
    Some("""WITH s1 AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
           |            FROM events WHERE event_type = 'view' GROUP BY 1),
           |s2 AS (SELECT e.user_id, t1, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
           |       FROM events e JOIN s1 USING (user_id)
           |       WHERE event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > t1
           |       GROUP BY 1, 2),
           |s3 AS (SELECT e.user_id, t1, t2, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
           |       FROM events e JOIN s2 USING (user_id)
           |       WHERE event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > t2
           |       GROUP BY 1, 2, 3)
           |SELECT user_id, CAST(t1 AS STRING) AS t_view,
           |  CAST(t2 AS STRING) AS t_click, CAST(t3 AS STRING) AS t_purchase
           |FROM s3 WHERE t3 <= t1 + INTERVAL 48 HOURS
           |ORDER BY user_id""".stripMargin))

  /** Exact integer z-score outliers ([[Relational.zscoreOutliers]]) on
    * cent-scaled event values per type — the data-quality gate every
    * ingestion pipeline runs. The oracle evaluates the IDENTICAL integer
    * inequality (DuckDB `//` and Spark `div` agree on the positive
    * variance numerator), so the flagged set matches bit-exactly —
    * no sqrt, no doubles anywhere.
    */
  val anomalyZscore = OpQ("op_anomaly_zscore",
    (s, d) => Relational.zscoreOutliers(
      Tables.load(s, d, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100).as("vc")),
      "vc", Seq("event_type"), sigmas = 3)
      .select(col("event_id"), col("event_type"), col("vc"))
      .orderBy(col("event_id")),
    Some("""WITH b AS (SELECT event_id, event_type,
           |    CAST(FLOOR(value * 100) AS BIGINT) AS vc FROM events),
           |st AS (SELECT event_type, COUNT(*) AS n,
           |         CAST(SUM(vc) AS BIGINT) AS s1,
           |         CAST(SUM(vc * vc) AS BIGINT) AS s2
           |       FROM b GROUP BY 1)
           |SELECT event_id, b.event_type, vc
           |FROM b JOIN st USING (event_type)
           |WHERE n > 1 AND (n*vc - s1)*(n*vc - s1) > 9 * n * ((n*s2 - s1*s1) // (n - 1))
           |ORDER BY event_id""".stripMargin))

  /** Incremental aggregate maintenance ([[Relational.aggState]] +
    * [[Relational.mergeAggStates]]): per-customer order states computed
    * separately on the pre-1997 history and the 1997+ delta, then merged
    * WITHOUT rescanning either input. The oracle aggregates the full
    * table directly — merged states must be indistinguishable from a
    * full recompute, which is the operator's entire contract.
    */
  val incrAggMerge = OpQ("op_incr_agg_merge",
    (s, d) => {
      val orders = Tables.load(s, d, "orders")
        .select(col("o_custkey"), col("o_orderdate"),
          Relational.cents(col("o_totalprice")).as("pc"))
      val history = Relational.aggState(
        orders.filter(col("o_orderdate") < "1997-01-01"), col("pc"), Seq("o_custkey"))
      val delta = Relational.aggState(
        orders.filter(col("o_orderdate") >= "1997-01-01"), col("pc"), Seq("o_custkey"))
      Relational.mergeAggStates(Seq(history, delta), Seq("o_custkey"))
        .select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_v").as("sum_cents"), col("min_v").as("min_cents"),
          col("max_v").as("max_cents"))
        .orderBy(col("o_custkey"))
    },
    Some("""SELECT o_custkey, COUNT(*) AS n_orders,
           |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           |  MIN(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS min_cents,
           |  MAX(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS max_cents
           |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin))

  /** Incremental DISTINCT maintenance ([[Relational.distinctSketchState]]
    * / [[mergeDistinctSketches]]): per-priority customer sketches built
    * on two date halves merge to the full-data sketch without a rescan.
    * The merged estimate itself is engine-specific (DataSketches binary /
    * estimator differs from anything DuckDB could build), so the hashed
    * output is the bit-exact full-data distinct count plus the 5%-band
    * assertion on the merged sketch; the oracle recomputes the exact
    * count and expects the assertion to hold (`TRUE`) — a sketch that
    * drifts out of band flips the boolean and fails the hash compare.
    * The merged≡single-pass identity stays a RelationalSpec gate.
    */
  val incrDistinctSketch = OpQ("op_incr_distinct_sketch",
    (s, d) => {
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderpriority"), col("o_custkey"), col("o_orderdate"))
      val history = Relational.distinctSketchState(
        orders.filter(col("o_orderdate") < "1997-01-01"),
        col("o_custkey"), Seq("o_orderpriority"))
      val delta = Relational.distinctSketchState(
        orders.filter(col("o_orderdate") >= "1997-01-01"),
        col("o_custkey"), Seq("o_orderpriority"))
      val exact = orders.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("exact_custs"))
      Relational.mergeDistinctSketches(Seq(history, delta), Seq("o_orderpriority"))
        .join(exact, "o_orderpriority")
        .select(col("o_orderpriority"), col("exact_custs"),
          (abs(col("n_distinct_approx") - col("exact_custs")).cast("double") <=
            lit(0.05) * col("exact_custs").cast("double")).as("within_tol"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority,
           |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
           |  TRUE AS within_tol
           |FROM orders GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin))

  /** Entity-resolution scoring with the codegen Jaro–Winkler expression
    * ([[graft.functions.JaroWinklerPpm]]): each probe customer name is
    * matched to its most similar supplier name by exact ppm score with a
    * deterministic (score desc, key asc) tie-break. The probe side is
    * filtered small, so the pair space is bounded — the blocking step a
    * full-corpus run would add is [[Relational.fuzzyJoinEd1]]'s
    * deletion-neighborhood or an initial-prefix block. Exact DuckDB
    * oracle: [[graft.functions.JaroWinklerPpm]] implements the strcmp95
    * convention (integer-halved transpositions, 0.7 boost threshold)
    * that DuckDB's `jaro_winkler_similarity` also follows, so
    * floor(jw·10⁶) agrees bit-exactly on every corpus pair and the
    * oracle replays the same argmax with the built-in.
    */
  val joinJaroWinkler = OpQ("op_join_jarowinkler",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = Tables.load(s, d, "customer").filter(col("c_custkey") <= 30)
        .select(col("c_custkey"), col("c_name"))
      val sup = Tables.load(s, d, "supplier")
        .select(col("s_suppkey"), col("s_name"))
      val w = Window.partitionBy(col("c_custkey"))
        .orderBy(col("sim_ppm").desc, col("s_suppkey"))
      c.crossJoin(sup)
        .withColumn("sim_ppm",
          graft.functions.JaroWinklerPpm.jaro_winkler_ppm(col("c_name"), col("s_name")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_custkey"), col("s_suppkey"), col("sim_ppm"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, s_suppkey, sim_ppm FROM (
           |  SELECT c_custkey, s_suppkey, sim_ppm,
           |    row_number() OVER (PARTITION BY c_custkey
           |                       ORDER BY sim_ppm DESC, s_suppkey) AS rn
           |  FROM (
           |    SELECT c_custkey, s_suppkey,
           |      CAST(floor(jaro_winkler_similarity(c_name, s_name) * 1e6) AS BIGINT) AS sim_ppm
           |    FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 30)
           |    CROSS JOIN supplier))
           |WHERE rn = 1 ORDER BY c_custkey""".stripMargin))

  /** Sketch set algebra ([[Relational.sketchIntersectionEstimate]]):
    * per-priority customer-audience OVERLAP between two order-date
    * periods, estimated from the periods' stored HLL states alone
    * (inclusion–exclusion) — no rescan of either period. Tolerance
    * oracle: the bit-exact intersection hash-matches, the estimate is
    * asserted within the 10% band (inclusion–exclusion stacks three
    * sketch estimates — the RelationalSpec bound) with the oracle
    * expecting `TRUE`.
    */
  val sketchIntersect = OpQ("op_sketch_intersect",
    (s, d) => {
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderpriority"), col("o_custkey"), col("o_orderdate"))
      val early = orders.filter(col("o_orderdate") < "1996-01-01")
      val late = orders.filter(col("o_orderdate") >= "1996-01-01")
      val a = Relational.distinctSketchState(early, col("o_custkey"), Seq("o_orderpriority"))
      val b = Relational.distinctSketchState(late, col("o_custkey"), Seq("o_orderpriority"))
      val exact = early.select(col("o_orderpriority"), col("o_custkey")).distinct()
        .intersect(late.select(col("o_orderpriority"), col("o_custkey")).distinct())
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("exact_intersect"))
      Relational.sketchIntersectionEstimate(a, b, Seq("o_orderpriority"))
        .join(exact, "o_orderpriority")
        .select(col("o_orderpriority"), col("exact_intersect"),
          (abs(col("n_intersect_approx") - col("exact_intersect")).cast("double") <=
            lit(0.10) * col("exact_intersect").cast("double")).as("within_tol"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""WITH e AS (SELECT DISTINCT o_orderpriority, o_custkey FROM orders
           |  WHERE o_orderdate < DATE '1996-01-01'),
           |l AS (SELECT DISTINCT o_orderpriority, o_custkey FROM orders
           |  WHERE o_orderdate >= DATE '1996-01-01')
           |SELECT o_orderpriority,
           |  CAST(COUNT(*) AS BIGINT) AS exact_intersect,
           |  TRUE AS within_tol
           |FROM (SELECT * FROM e INTERSECT SELECT * FROM l)
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** EXACT incremental DISTINCT maintenance
    * ([[Relational.distinctBitmapState]] / [[mergeDistinctBitmaps]]):
    * same two-half merge as `op_incr_distinct_sketch`, but over bucketed
    * bitmaps whose OR-combine loses nothing — so this one IS
    * oracle-gated, bit-exact against DuckDB's full-data
    * COUNT(DISTINCT).
    */
  val incrDistinctExact = OpQ("op_incr_distinct_exact",
    (s, d) => {
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderpriority"), col("o_custkey"), col("o_orderdate"))
      val history = Relational.distinctBitmapState(
        orders.filter(col("o_orderdate") < "1997-01-01"),
        col("o_custkey"), Seq("o_orderpriority"))
      val delta = Relational.distinctBitmapState(
        orders.filter(col("o_orderdate") >= "1997-01-01"),
        col("o_custkey"), Seq("o_orderpriority"))
      Relational.mergeDistinctBitmaps(Seq(history, delta), Seq("o_orderpriority"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_distinct
           |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** Multi-touch attribution: every purchase splits its value EQUALLY
    * across the user's views in the preceding 24 hours — the linear
    * attribution model, in exact integer microcents (floor split +
    * explicit remainder, so credit conservation is checkable:
    * n_touches·credit_each + remainder == value exactly). One
    * user-keyed interval left join + one per-purchase count; zero-touch
    * purchases survive with zero credit. Per-user fan-out is bounded by
    * views-per-24h, not corpus size.
    */
  val attributionMultitouch = OpQ("op_attribution_multitouch",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("pu"), col("ts").as("pts"),
          floor(col("value") * 100).cast("long").as("cents"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("vu"), col("ts").as("vts"))
      p.join(v, col("vu") === col("pu") && col("vts") < col("pts") &&
          col("vts") >= col("pts") - expr("INTERVAL 24 HOURS"), "left")
        .groupBy(col("event_id"), col("cents"))
        .agg(count(col("vts")).as("n_touches"))
        .select(col("event_id"), col("n_touches"),
          when(col("n_touches") > 0,
            expr("(cents * 1000000L) div n_touches")).otherwise(0L)
            .as("credit_each_microcents"),
          when(col("n_touches") > 0,
            expr("cents * 1000000L - n_touches * ((cents * 1000000L) div n_touches)"))
            .otherwise(0L).as("remainder_microcents"))
        .orderBy(col("event_id"))
    },
    Some("""WITH p AS (
           |  SELECT event_id, user_id, ts, CAST(FLOOR(value * 100) AS BIGINT) AS cents
           |  FROM events WHERE event_type = 'purchase'),
           |v AS (
           |  SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'),
           |j AS (
           |  SELECT p.event_id, p.cents, CAST(COUNT(v.vts) AS BIGINT) AS k
           |  FROM p LEFT JOIN v ON v.user_id = p.user_id
           |    AND v.vts < p.ts AND v.vts >= p.ts - INTERVAL 24 HOUR
           |  GROUP BY 1, 2)
           |SELECT event_id, k AS n_touches,
           |  CASE WHEN k > 0 THEN (cents * 1000000) // k ELSE 0 END
           |    AS credit_each_microcents,
           |  CASE WHEN k > 0 THEN cents * 1000000 - k * ((cents * 1000000) // k)
           |       ELSE 0 END AS remainder_microcents
           |FROM j ORDER BY event_id""".stripMargin))

  /** Volume-weighted average price per ship month — the classic
    * time-series rollup, exact: Σ(price_cents · qty) div Σ(qty) is all
    * BIGINT arithmetic (order-independent partial sums, floor division
    * spelled identically in DuckDB), no running double accumulation.
    */
  val timeseriesVwap = OpQ("op_timeseries_vwap",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
          floor(col("l_extendedprice") * 100).cast("long").as("pc"),
          col("l_quantity").cast("long").as("q"))
      li.groupBy(col("ship_month"))
        .agg(sum(col("q")).as("sum_qty"),
          expr("sum(pc * q) div sum(q)").as("vwap_cents"))
        .orderBy(col("ship_month"))
    },
    Some("""SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
           |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
           |           * CAST(l_quantity AS BIGINT)) AS BIGINT)
           |    // CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS vwap_cents
           |FROM lineitem GROUP BY ship_month ORDER BY ship_month""".stripMargin))

  /** XML source/sink roundtrip ([[Sources.xml]]/[[writeXml]]) — Spark 4's
    * native XML format with a declared read schema (inference would
    * widen everything; the declared schema keeps parquet types). Oracle
    * is the original parquet content.
    */
  val sourceXmlRoundtrip = OpQ("op_source_xml_roundtrip",
    (s, d) => {
      // keyed by SF — supplier row count varies with scale factor
      val path = s"${Sources.stageRoot}/supplier_xml_${new java.io.File(d).getName}"
      val src = Tables.load(s, d, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      Sources.writeXml(src, path, rowTag = "supplier")
      Sources.xml(s, path, rowTag = "supplier", schema = Some(src.schema))
        .filter(col("s_acctbal") > 0.0)
        .orderBy(col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    },
    Some("""SELECT s_suppkey, s_name, s_nationkey, s_acctbal
           |FROM supplier WHERE s_acctbal > 0.0
           |ORDER BY s_suppkey""".stripMargin))

  /** Per-group feature standardization (z-score scaling, the ML-pipeline
    * normalizer) — BIT-EXACT cross-engine doubles via the single-tree
    * trick: algebra folds (x−μ)/σ_pop into (n·x − S1) / sqrt(n·S2 − S1²)
    * where n, S1=Σx, S2=Σx² are exact BIGINTs over whole-dollar values
    * (partial sums order-independent; magnitudes stay under BIGINT), and
    * the double stage is ONE cast, ONE sqrt, ONE division — each
    * correctly rounded by IEEE in both engines, so the hash matches.
    * The naive μ/σ spelling would accumulate rounding differences.
    * Stats come from a window over the group — one shuffle, stats
    * broadcast to every row by the window itself.
    */
  val featureStandardize = OpQ("op_feature_standardize",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ship_month"))
      val li = Tables.load(s, d, "lineitem")
        .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1995-07-01")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
          floor(col("l_extendedprice")).cast("long").as("x"))
      li.select(col("ship_month"), col("l_orderkey"), col("l_linenumber"),
          count(lit(1)).over(w).as("n"),
          sum(col("x")).over(w).as("s1"),
          sum(col("x") * col("x")).over(w).as("s2"), col("x"))
        .select(col("ship_month"), col("l_orderkey"), col("l_linenumber"),
          expr("CAST(n * x - s1 AS DOUBLE) / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))")
            .as("z"))
        .orderBy(col("ship_month"), col("l_orderkey"), col("l_linenumber"))
    },
    Some("""WITH v AS (
           |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           |    strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
           |    CAST(FLOOR(l_extendedprice) AS BIGINT) AS x
           |  FROM lineitem
           |  WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
           |    AND CAST(l_shipdate AS DATE) < DATE '1995-07-01'),
           |st AS (
           |  SELECT *, CAST(COUNT(*) OVER w AS BIGINT) AS n,
           |    CAST(SUM(x) OVER w AS BIGINT) AS s1,
           |    CAST(SUM(x * x) OVER w AS BIGINT) AS s2
           |  FROM v WINDOW w AS (PARTITION BY ship_month))
           |SELECT ship_month, l_orderkey, l_linenumber,
           |  CAST(n * x - s1 AS DOUBLE) / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) AS z
           |FROM st ORDER BY ship_month, l_orderkey, l_linenumber""".stripMargin))

  /** Data-quality constraint suite ([[Relational.checkConstraints]]):
    * seven constraints over orders — two designed to FAIL (o_custkey is
    * not a key; 'P' status excluded from the allowed set) so the
    * violation counting itself is what the oracle gates, not just a
    * column of zeros. One conditional-aggregation pass + one FK probe.
    */
  val dataQuality = OpQ("op_data_quality",
    (s, d) => {
      val orders = Tables.load(s, d, "orders")
      val customer = Tables.load(s, d, "customer")
      Relational.checkConstraints(orders, Seq(
        Relational.NotNull("o_custkey"),
        Relational.UniqueKey(Seq("o_orderkey")),
        Relational.UniqueKey(Seq("o_custkey")),
        Relational.InRange("o_totalprice", lit(0), lit(300000)),
        Relational.InSet("o_orderstatus", Seq("O", "F")),
        Relational.MatchesRegex("o_orderpriority", "^[1-5]-"),
        Relational.RefIntegrity("o_custkey", customer, "c_custkey", "customer.c_custkey")))
        .orderBy(col("constraint_name"))
    },
    Some("""WITH base AS MATERIALIZED (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS total,
           |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
           |    CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_uk,
           |    CAST(COUNT(o_custkey) - COUNT(DISTINCT o_custkey) AS BIGINT) AS v_uc,
           |    CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 300000 THEN 1 ELSE 0 END) AS BIGINT) AS v_rng,
           |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
           |    CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS v_re
           |  FROM orders),
           |refv AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders
           |  WHERE o_custkey IS NOT NULL
           |    AND o_custkey NOT IN (SELECT c_custkey FROM customer))
           |SELECT constraint_name, violations, total, violations = 0 AS pass FROM (
           |  SELECT 'not_null(o_custkey)' AS constraint_name, v_nn AS violations, total FROM base
           |  UNION ALL SELECT 'unique(o_orderkey)', v_uk, total FROM base
           |  UNION ALL SELECT 'unique(o_custkey)', v_uc, total FROM base
           |  UNION ALL SELECT 'in_range(o_totalprice)', v_rng, total FROM base
           |  UNION ALL SELECT 'in_set(o_orderstatus)', v_set, total FROM base
           |  UNION ALL SELECT 'matches(o_orderpriority)', v_re, total FROM base
           |  UNION ALL SELECT 'ref(o_custkey->customer.c_custkey)', v,
           |    (SELECT total FROM base) FROM refv)
           |ORDER BY constraint_name""".stripMargin))

  /** Higher-order array function surface — transform / filter / aggregate
    * (fold) / sort / distinct / slice / position / contains / flatten,
    * the lambda-expression layer both engines ship natively. Every
    * result is integer-valued so the arrays compare bit-exactly; each
    * array-typed output is serialized with `to_json` (both engines emit
    * the identical compact `[1,2,3]` form for integer lists) so the
    * driver's pandas comparator sees hashable strings — raw
    * `array<bigint>` cells are unhashable under its `sort_values`.
    */
  val arrayFunctions = OpQ("op_array_functions",
    (s, d) => Tables.sql(s, d,
      """SELECT o_orderkey,
        |  to_json(transform(arr, x -> x * 2 + 1)) AS doubled,
        |  size(filter(arr, x -> x % 2 = 0)) AS n_even,
        |  aggregate(arr, 0L, (a, x) -> a + x) AS total,
        |  to_json(array_sort(arr)) AS sorted,
        |  to_json(array_sort(array_distinct(arr))) AS uniq,
        |  to_json(slice(array_sort(arr), 2, 2)) AS mid,
        |  array_position(arr, 1) AS pos1,
        |  array_contains(arr, 3) AS has3,
        |  to_json(flatten(array(arr, array(o_orderkey % 2)))) AS flat
        |FROM (SELECT o_orderkey,
        |        array(o_orderkey % 7, o_custkey % 5, o_orderkey % 3) AS arr
        |      FROM orders)
        |ORDER BY o_orderkey LIMIT 500""".stripMargin),
    Some("""SELECT o_orderkey,
           |  CAST(to_json(list_transform(arr, x -> x * 2 + 1)) AS VARCHAR) AS doubled,
           |  CAST(len(list_filter(arr, x -> x % 2 = 0)) AS INT) AS n_even,
           |  CAST(list_sum(arr) AS BIGINT) AS total,
           |  CAST(to_json(list_sort(arr)) AS VARCHAR) AS sorted,
           |  CAST(to_json(list_sort(list_distinct(arr))) AS VARCHAR) AS uniq,
           |  CAST(to_json(list_sort(arr)[2:3]) AS VARCHAR) AS mid,
           |  CAST(COALESCE(list_position(arr, 1), 0) AS BIGINT) AS pos1,
           |  list_contains(arr, 3) AS has3,
           |  CAST(to_json(flatten([arr, [o_orderkey % 2]])) AS VARCHAR) AS flat
           |FROM (SELECT o_orderkey,
           |        [o_orderkey % 7, o_custkey % 5, o_orderkey % 3] AS arr
           |      FROM orders)
           |ORDER BY o_orderkey LIMIT 500""".stripMargin))

  /** Per-user exponentially-weighted moving average, α = 0.5 — the
    * classic smoothing recurrence y ← α·x + (1−α)·y folded LEFT over the
    * (ts, event_id)-ordered value sequence. α = 0.5 is a power of two,
    * so each step is one exact scale and one correctly-rounded add:
    * both engines folding the same sequence produce bit-identical
    * doubles (the oracle is DuckDB's `list_reduce` over the same
    * ordered list — Spark emulates its first-element-as-init convention
    * with `aggregate(slice(...), element_at(...,1), λ)`). One groupBy
    * shuffle; per-key arrays are bounded by per-user activity — chunk
    * the fold by (user, day) windows when a key's history outgrows a
    * task (same contract as packSequences).
    */
  val timeseriesEwma = OpQ("op_timeseries_ewma",
    (s, d) => Tables.load(s, d, "events")
      .groupBy(col("user_id"))
      .agg(expr("array_sort(collect_list(struct(ts, event_id, value)))").as("sq"))
      .withColumn("vals", expr("transform(sq, r -> r.value)"))
      .select(col("user_id"),
        expr("""aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1),
               |(acc, x) -> CAST(0.5 AS DOUBLE) * x + CAST(0.5 AS DOUBLE) * acc)"""
          .stripMargin.replace("\n", " ")).as("ewma"),
        expr("size(vals)").cast("long").as("n_events"))
      .orderBy(col("user_id")),
    Some("""SELECT user_id,
           |  list_reduce(list(value ORDER BY ts, event_id),
           |    (acc, x) -> CAST(0.5 AS DOUBLE) * x + CAST(0.5 AS DOUBLE) * acc) AS ewma,
           |  COUNT(*) AS n_events
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** OHLC downsampling (resample-to-candles): 6-hour buckets per event
    * type with open/high/low/close/volume. Open and close come from the
    * (ts, event_id)-ordered first/last elements of ONE sorted
    * collect_list aggregate — no self-join, no second window pass; high
    * and low are plain min/max (no arithmetic, so raw doubles compare
    * exactly). Bucketing is integer epoch-second arithmetic on both
    * engines. One shuffle on (type, bucket) — the standard time-series
    * rollup shape at any scale.
    */
  val timeseriesOhlc = OpQ("op_timeseries_ohlc",
    (s, d) => Tables.load(s, d, "events")
      .withColumn("bucket",
        expr("timestamp_seconds(21600 * (unix_timestamp(ts) div 21600))"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(expr("array_sort(collect_list(struct(ts, event_id, value)))").as("sq"),
        min(col("value")).as("low"), max(col("value")).as("high"),
        count(lit(1)).as("volume"))
      .select(col("event_type"), col("bucket").cast("string").as("bucket"),
        expr("element_at(sq, 1).value").as("open"),
        col("high"), col("low"),
        expr("element_at(sq, -1).value").as("close"),
        col("volume"))
      .orderBy(col("event_type"), col("bucket")),
    Some("""SELECT event_type,
           |  CAST(make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000)
           |       * 21600000000) AS STRING) AS bucket,
           |  (list(value ORDER BY ts, event_id))[1] AS open,
           |  MAX(value) AS high, MIN(value) AS low,
           |  (list(value ORDER BY ts, event_id))[-1] AS close,
           |  COUNT(*) AS volume
           |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin))

  /** Bucketed co-located join — bucketing is the PRE-SHUFFLE for stable
    * join keys at 100 TB: both sides are staged once as
    * `bucketBy(8, key).sortBy(key)` parquet tables (one file per bucket
    * via a write-side hash repartition), so the sort-merge join reads
    * already-co-located, already-sorted buckets and plans ZERO join-side
    * exchange — the join cost that dominates a naive 100 TB fact-fact
    * join is paid once at write time and amortized over every subsequent
    * query. The `merge` hint pins SMJ so the gate proves co-location (a
    * broadcast would hide it); PlanCheck asserts the plan has no
    * join-side exchange (only the aggregation + output-sort exchanges
    * remain). The oracle runs the same join/aggregate over the ORIGINAL
    * parquet in DuckDB — bucketing must be invisible to results.
    */
  val joinBucketed = OpQ("op_join_bucketed",
    (s, d) => {
      val tag = new java.io.File(d).getName.replace('.', '_')
      def staged(name: String, key: String, df: => org.apache.spark.sql.DataFrame): String = {
        val tbl = s"graft_bkt_${name}_$tag"
        if (!s.catalog.tableExists(tbl)) {
          df.repartition(8, col(key))
            .write.mode("overwrite").format("parquet")
            .option("path", s"${Sources.stageRoot}/bucketed_${name}_$tag")
            .bucketBy(8, key).sortBy(key)
            .saveAsTable(tbl)
        }
        tbl
      }
      val o = s.table(staged("orders", "o_custkey",
        Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))))
      val c = s.table(staged("customer", "c_custkey",
        Tables.load(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))))
      o.hint("merge").join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(Relational.cents(col("o_totalprice"))).as("sum_cents"),
          min(col("o_orderkey")).as("min_orderkey"),
          max(col("o_orderkey")).as("max_orderkey"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n_orders,
           |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           |  MIN(o_orderkey) AS min_orderkey, MAX(o_orderkey) AS max_orderkey
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** Dynamic partition pruning — the scan-scale feature that makes
    * dim-filtered fact queries cheap on partitioned storage: the fact
    * side is a parquet table PARTITIONED BY the join key's column, the
    * dim side carries a selective non-partition-column filter, and
    * Catalyst injects `dynamicpruningexpression(...)` into the fact
    * scan's PartitionFilters so only the dim-surviving partitions are
    * read — at 100 TB that is the difference between scanning 2/5 of the
    * table and all of it, decided AT RUNTIME from the broadcast dim rows
    * (a static filter can't do it: the pruning predicate is on `tier`,
    * not the partition column). Staged once per SF (write-if-missing,
    * same contract as the bucketed-join stage); the oracle replays the
    * join over the ORIGINAL table — pruning must be invisible to
    * results. The PlanCheck rule pins `dpp >= 1`.
    */
  val joinDpp = OpQ("op_join_dpp",
    (s, d) => {
      val tag = new java.io.File(d).getName.replace('.', '_')
      val factPath = s"${Sources.stageRoot}/dpp_orders_$tag"
      if (!new java.io.File(factPath).exists())
        Sources.writeParquet(
          Tables.load(s, d, "orders").select(col("o_orderkey"),
            col("o_totalprice"), col("o_orderpriority")),
          factPath, partitionBy = Seq("o_orderpriority"))
      val dimPath = s"${Sources.stageRoot}/dpp_pri_$tag"
      if (!new java.io.File(dimPath).exists())
        Sources.writeParquet(
          Tables.load(s, d, "orders").select(col("o_orderpriority")).distinct()
            .withColumn("tier", substring(col("o_orderpriority"), 1, 1)),
          dimPath)
      val fact = Sources.parquet(s, factPath)
      val dim = Sources.parquet(s, dimPath).filter(col("tier").isin("1", "2"))
      fact.join(broadcast(dim), Seq("o_orderpriority"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(Relational.cents(col("o_totalprice"))).as("sum_cents"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS n_orders,
           |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
           |FROM orders
           |WHERE substring(o_orderpriority, 1, 1) IN ('1', '2')
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** Snapshot diff ([[Relational.snapshotDiff]]) — two dated snapshots of
    * `orders` derived deterministically from the base table (A drops
    * keys ≡3 mod 17; B drops keys ≡2 mod 19 and bumps price 5% for keys
    * ≡0 mod 13), classified added/removed/changed in one full-outer
    * join. The oracle spells the identical derivation and a FULL OUTER
    * JOIN + IS DISTINCT FROM classification.
    */
  val tableDiff = OpQ("op_table_diff",
    (s, d) => {
      val base = Tables.load(s, d, "orders")
      val snapCents = Relational.cents(col("o_totalprice"))
      val a = base.filter(col("o_orderkey") % 17 =!= 3)
        .select(col("o_orderkey"), snapCents.as("cents"),
          col("o_orderstatus").as("st"))
      val b = base.filter(col("o_orderkey") % 19 =!= 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 13 === 0,
            expr("(CAST(FLOOR(o_totalprice * 100) AS BIGINT) * 105) DIV 100"))
            .otherwise(snapCents).as("cents"),
          col("o_orderstatus").as("st"))
      Relational.snapshotDiff(a, b, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
    Some("""WITH a AS (
           |  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
           |    o_orderstatus AS st
           |  FROM orders WHERE o_orderkey % 17 <> 3),
           |b AS (
           |  SELECT o_orderkey,
           |    CASE WHEN o_orderkey % 13 = 0
           |         THEN (CAST(FLOOR(o_totalprice * 100) AS BIGINT) * 105) // 100
           |         ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT) END AS cents,
           |    o_orderstatus AS st
           |  FROM orders WHERE o_orderkey % 19 <> 2)
           |SELECT * FROM (
           |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           |    CASE WHEN b.o_orderkey IS NULL THEN 'removed'
           |         WHEN a.o_orderkey IS NULL THEN 'added'
           |         WHEN a.cents IS DISTINCT FROM b.cents
           |           OR a.st IS DISTINCT FROM b.st THEN 'changed'
           |         ELSE 'unchanged' END AS change_type,
           |    a.cents AS old_cents, b.cents AS new_cents,
           |    a.st AS old_st, b.st AS new_st
           |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
           |WHERE change_type <> 'unchanged'
           |ORDER BY o_orderkey""".stripMargin))

  /** Linear interpolation ([[Relational.interpolateLinear]]) over the
    * gap-fill spine: Q1-1995 high-value daily revenue hits 59 of 90
    * days; interior gaps interpolate between the bracketing known days
    * with exact integer+IEEE arithmetic, edge gaps carry the nearest
    * value. The oracle evaluates the identical expression tree through
    * DuckDB's IGNORE NULLS window navigation.
    */
  val interpLinear = OpQ("op_interp_linear",
    (s, d) => {
      val daily = Tables.load(s, d, "orders")
        .filter(col("o_totalprice") > 400000 &&
          col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1995-04-01")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(Relational.cents(col("o_totalprice"))).as("cents"))
      val spine = s.range(1).select(explode(expr(
        "sequence(DATE'1995-01-01', DATE'1995-03-31', interval 1 day)")).as("day"))
      val joined = spine.join(daily, Seq("day"), "left")
        .withColumn("x",
          datediff(col("day"), lit("1995-01-01").cast("date")).cast("long"))
      Relational.interpolateLinear(joined, "x", "cents",
          globalWindowOk = true) // 90-row generated spine, broadcast-sized
        .select(col("day").cast("string").as("day"), col("x"),
          col("cents"), col("cents_interp"))
        .orderBy(col("day"))
    },
    Some("""WITH daily AS (
           |  SELECT o_orderdate::DATE AS day,
           |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
           |  FROM orders
           |  WHERE o_totalprice > 400000
           |    AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
           |  GROUP BY 1),
           |spine AS (SELECT UNNEST(generate_series(
           |  DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY))::DATE AS day),
           |j AS (SELECT s.day, CAST(s.day - DATE '1995-01-01' AS BIGINT) AS x, d.cents
           |      FROM spine s LEFT JOIN daily d USING (day)),
           |w AS (SELECT day, x, cents,
           |  last_value(cents IGNORE NULLS) OVER
           |    (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
           |  last_value(CASE WHEN cents IS NOT NULL THEN x END IGNORE NULLS) OVER
           |    (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px,
           |  first_value(cents IGNORE NULLS) OVER
           |    (ORDER BY x ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
           |  first_value(CASE WHEN cents IS NOT NULL THEN x END IGNORE NULLS) OVER
           |    (ORDER BY x ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
           |  FROM j)
           |SELECT CAST(day AS VARCHAR) AS day, x, cents,
           |  CASE WHEN cents IS NOT NULL THEN cents
           |       WHEN pv IS NULL THEN nv
           |       WHEN nv IS NULL THEN pv
           |       ELSE pv + CAST(FLOOR(CAST((nv - pv) * (x - px) AS DOUBLE)
           |                            / CAST(nx - px AS DOUBLE)) AS BIGINT) END
           |    AS cents_interp
           |FROM w ORDER BY day""".stripMargin))

  /** Map-typed columns end-to-end: build a status→count map per priority
    * (`map_from_entries` over a sorted entry array, so map order is
    * deterministic), then exercise the map HOF surface —
    * `transform_values`, `map_filter`, `map_keys`, `aggregate` over
    * `map_values`, `element_at` lookup. Maps render as sorted `k=v`
    * strings because the driver's hash compare (and DuckDB) have no
    * map equality; DuckDB replays the same semantics on sorted
    * struct-lists with `list_transform`/`list_filter`/`list_sum`.
    */
  val mapFunctions = OpQ("op_map_functions",
    (s, d) => {
      val cnt = Tables.load(s, d, "orders")
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      cnt.groupBy(col("o_orderpriority"))
        .agg(map_from_entries(array_sort(collect_list(
          struct(col("o_orderstatus").as("key"), col("n").as("value"))))).as("m"))
        .select(
          col("o_orderpriority"),
          array_join(transform(map_entries(col("m")),
            e => concat(e("key"), lit("="), e("value").cast("string"))), ",")
            .as("entries"),
          array_join(transform(map_entries(
            transform_values(col("m"), (_, v) => v * 2)),
            e => concat(e("key"), lit("="), e("value").cast("string"))), ",")
            .as("doubled"),
          array_join(array_sort(map_keys(
            map_filter(col("m"), (_, v) => v > 1000))), ",").as("big_keys"),
          aggregate(map_values(col("m")), lit(0L), (acc, x) => acc + x)
            .as("total"),
          element_at(col("m"), "O").as("n_open"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""WITH cnt AS (
           |  SELECT o_orderpriority AS p, o_orderstatus AS st, COUNT(*) AS n
           |  FROM orders GROUP BY 1, 2),
           |m AS (SELECT p, list(struct_pack(k := st, v := n) ORDER BY st) AS le
           |      FROM cnt GROUP BY p)
           |SELECT p AS o_orderpriority,
           |  array_to_string(list_transform(le,
           |    e -> e.k || '=' || CAST(e.v AS VARCHAR)), ',') AS entries,
           |  array_to_string(list_transform(le,
           |    e -> e.k || '=' || CAST(e.v * 2 AS VARCHAR)), ',') AS doubled,
           |  array_to_string(list_transform(list_filter(le, e -> e.v > 1000),
           |    e -> e.k), ',') AS big_keys,
           |  CAST(list_sum(list_transform(le, e -> e.v)) AS BIGINT) AS total,
           |  CASE WHEN len(list_filter(le, e -> e.k = 'O')) = 0 THEN NULL
           |       ELSE list_filter(le, e -> e.k = 'O')[1].v END AS n_open
           |FROM m ORDER BY o_orderpriority""".stripMargin))

  /** Equal-frequency binning (`ntile`) — the feature-engineering
    * counterpart of `op_histogram`'s equal-width buckets: 8 buckets of
    * (near-)equal population over order totals, reported with exact
    * boundaries and counts. The total order (cents, key) makes ntile's
    * row assignment engine-independent. r20 (verdict r19 #8): the exact
    * assignment now runs through [[Relational.globalNtile]] — range
    * partition + partition-offset rank arithmetic, bit-identical to the
    * `ntile(8) OVER (ORDER BY …)` the oracle replays (NtileSpec pins the
    * equivalence) — instead of a single-partition window, so the exact
    * path scales too; `op_approx_quantile` / `op_histogram_equifreq_approx`
    * remain the sketch-based production companions.
    */
  val histogramEquifreq = OpQ("op_histogram_equifreq",
    (s, d) => {
      Relational.globalNtile(
        Tables.load(s, d, "orders")
          .select(col("o_orderkey"), Relational.cents(col("o_totalprice")).as("cents")),
        8, Seq(col("cents"), col("o_orderkey")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
        .orderBy(col("bucket"))
    },
    Some("""WITH b AS (
           |  SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
           |    CAST(ntile(8) OVER (ORDER BY CAST(FLOOR(o_totalprice * 100) AS BIGINT),
           |                        o_orderkey) AS BIGINT) AS bucket
           |  FROM orders)
           |SELECT bucket, COUNT(*) AS n,
           |  MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
           |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** Equal-frequency binning, the SCALE path: bucket boundaries come
    * from one `approx_percentile` sketch pass (rank error ≤ n/accuracy
    * per boundary — a relative guarantee that holds unchanged at 100 TB)
    * broadcast back onto the scan, so rows are assigned by a per-row
    * array scan over 7 boundaries and counted with an ordinary 8-group
    * hash aggregate — NO global sort, no single-partition window, two
    * narrow shuffles total. This is what `op_histogram_equifreq`'s
    * scaladoc prescribes for production; that query stays as the exact-
    * ntile semantics gate at test scale. Tolerance oracle: boundary
    * values are sketch-internal (engine-specific), so the hashed columns
    * are the engine-independent facts — bucket id, exact corpus total,
    * and `within_tol` asserting every bucket holds total/8 ± 5% (the
    * sketch guarantee bounds the deviation at ≈2·n/accuracy ≪ 5%) —
    * with the oracle expecting TRUE for all 8 buckets.
    */
  val histogramEquifreqApprox = OpQ("op_histogram_equifreq_approx",
    (s, d) => {
      val cents = Tables.load(s, d, "orders")
        .select(Relational.cents(col("o_totalprice")).as("cents"))
      val bnds = cents.agg(
        percentile_approx(col("cents"),
          expr("array(0.125D, 0.25D, 0.375D, 0.5D, 0.625D, 0.75D, 0.875D)"),
          lit(10000)).as("bnds"))
      cents.crossJoin(broadcast(bnds))
        .select((expr("size(filter(bnds, b -> cents > b))") + lit(1))
          .cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .agg(collect_list(struct(col("bucket"), col("n"))).as("bk"),
          sum(col("n")).as("total"))
        .select(explode(expr("array_sort(bk)")).as("b"), col("total"))
        .select(col("b.bucket").as("bucket"), col("total"),
          (abs(col("b.n").cast("double") - col("total").cast("double") / lit(8.0))
            <= lit(0.05) * col("total").cast("double") / lit(8.0)).as("within_tol"))
        .orderBy(col("bucket"))
    },
    Some("""WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM orders)
           |SELECT CAST(g.b AS BIGINT) AS bucket, total, TRUE AS within_tol
           |FROM t, generate_series(1, 8) g(b)
           |ORDER BY bucket""".stripMargin))

  /** Skew diagnostics — the pre-flight check before keying a 100 TB
    * shuffle: per-key population for lineitem's supplier key, the top-5
    * heaviest keys with their corpus share, and each key's ratio to the
    * mean (ppm, exact integer) — the number that says "salt this join"
    * ([[Relational.saltedJoin]]) or "enable AQE skew handling". One
    * map-side-combined count + a 1-row global frame broadcast back.
    */
  val skewDiagnose = OpQ("op_skew_diagnose",
    (s, d) => {
      val counts = Tables.load(s, d, "lineitem")
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"))
      counts.crossJoin(broadcast(tot))
        .select(col("l_suppkey"), col("cnt"),
          expr("cnt * 1000000L div n_rows").as("share_ppm"),
          expr("cnt * n_keys * 1000000L div n_rows").as("vs_mean_ppm"))
        .orderBy(col("cnt").desc, col("l_suppkey")).limit(5)
    },
    Some("""WITH c AS (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
           |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           |        CAST(SUM(cnt) AS BIGINT) AS n_rows FROM c)
           |SELECT l_suppkey, cnt,
           |  (cnt * 1000000) // n_rows AS share_ppm,
           |  (cnt * n_keys * 1000000) // n_rows AS vs_mean_ppm
           |FROM c, t ORDER BY cnt DESC, l_suppkey LIMIT 5""".stripMargin))

  /** Largest-remainder proration ([[Relational.prorate]]): each order's
    * exact-cents total split across its lineitems proportionally to
    * quantity, leftovers to the largest remainders — Σ alloc = total per
    * order, bit-exact. The oracle re-derives the same floor-share +
    * remainder-rank allocation in DuckDB integer arithmetic.
    */
  val prorate = OpQ("op_prorate",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") < 1000)
        // the synthetic data repeats l_linenumber within an order, so
        // pre-aggregate to make the prorate order key unique per group
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      val ord = Tables.load(s, d, "orders")
        .select(col("o_orderkey"),
          Relational.cents(col("o_totalprice")).as("total_cents"))
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .drop("o_orderkey")
      Relational.prorate(joined, Seq("l_orderkey"), "qty", "total_cents",
        "l_linenumber", validate = true)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""WITH li AS (SELECT l_orderkey, l_linenumber,
           |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
           |  FROM lineitem WHERE l_orderkey < 1000 GROUP BY 1, 2),
           |o AS (SELECT o_orderkey,
           |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS total_cents
           |  FROM orders),
           |j AS (SELECT l_orderkey, l_linenumber, qty, total_cents
           |  FROM li JOIN o ON l_orderkey = o_orderkey),
           |w AS (SELECT *, SUM(qty) OVER (PARTITION BY l_orderkey) AS wsum
           |  FROM j),
           |b AS (SELECT *, (total_cents * qty) // wsum AS base,
           |    (total_cents * qty) % wsum AS rem FROM w),
           |r AS (SELECT *,
           |    CAST(row_number() OVER (PARTITION BY l_orderkey
           |      ORDER BY rem DESC, l_linenumber) AS BIGINT) AS rn,
           |    SUM(base) OVER (PARTITION BY l_orderkey) AS sbase FROM b)
           |SELECT l_orderkey, l_linenumber, qty, total_cents,
           |  CAST(base + CASE WHEN rn <= total_cents - sbase THEN 1 ELSE 0
           |    END AS BIGINT) AS alloc
           |FROM r ORDER BY l_orderkey, l_linenumber""".stripMargin))

  /** MAD robust outliers ([[Relational.madOutliers]]): event values whose
    * deviation from their type's median exceeds 3× the median absolute
    * deviation — both medians as PERCENTILE_DISC(0.5) on exact cents, so
    * the flagged set is integer-exact on both engines. ~12% of rows per
    * type flag on this right-skewed synthetic distribution — a set a
    * mean/σ z-score would largely mask (the heavy tail inflates σ).
    */
  val statsMad = OpQ("op_stats_mad",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("event_type"),
          Relational.cents(col("value")).as("v"))
      Relational.madOutliers(ev, "v", Seq("event_type"), k = 3)
        .orderBy(col("event_id"))
    },
    Some("""WITH v AS MATERIALIZED (SELECT event_id, event_type,
           |    CAST(FLOOR(value * 100) AS BIGINT) AS v FROM events),
           |m AS (SELECT event_type,
           |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v)
           |      AS BIGINT) AS med
           |  FROM v GROUP BY event_type),
           |d AS (SELECT v.*, med FROM v JOIN m USING (event_type)),
           |md AS (SELECT event_type,
           |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(v - med))
           |      AS BIGINT) AS mad
           |  FROM d GROUP BY event_type)
           |SELECT event_type, event_id, v, med, mad
           |FROM d JOIN md USING (event_type)
           |WHERE abs(v - med) > 3 * mad ORDER BY event_id""".stripMargin))

  /** Winsorization ([[Relational.winsorize]]): event values clamped into
    * their type's [p05, p95] PERCENTILE_DISC band — tail-taming on exact
    * cents, so the clamped column hash-matches DuckDB's discrete
    * percentiles + greatest/least replay.
    */
  val statsWinsorize = OpQ("op_stats_winsorize",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("event_type"),
          Relational.cents(col("value")).as("v"))
      Relational.winsorize(ev, "v", Seq("event_type"))
        .orderBy(col("event_id"))
    },
    Some("""WITH v AS (SELECT event_id, event_type,
           |    CAST(FLOOR(value * 100) AS BIGINT) AS v FROM events),
           |b AS (SELECT event_type,
           |    CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY v) AS BIGINT) AS lo,
           |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY v) AS BIGINT) AS hi
           |  FROM v GROUP BY event_type)
           |SELECT event_id, event_type, v,
           |  greatest(lo, least(hi, v)) AS v_w
           |FROM v JOIN b USING (event_type) ORDER BY event_id""".stripMargin))

  /** Point-in-time snapshot ([[Relational.asOfSnapshot]]): each
    * customer's latest order state as of 1996-06-30 — time travel over
    * an append-only history, the read side of [[Relational.scd2Merge]].
    * The as-of filter pushes into the scan; one key shuffle.
    */
  val snapshotAsOf = OpQ("op_snapshot_asof",
    (s, d) => {
      val ord = Tables.load(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderstatus"), Relational.cents(col("o_totalprice")).as("price_cents"))
      Relational.asOfSnapshot(ord, Seq("o_custkey"), "o_orderdate",
        lit("1996-06-30").cast("date"), "o_orderkey")
        .orderBy(col("o_custkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus, price_cents
           |FROM (
           |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
           |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
           |    row_number() OVER (PARTITION BY o_custkey
           |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           |  FROM orders WHERE o_orderdate <= DATE '1996-06-30')
           |WHERE rn = 1 ORDER BY o_custkey""".stripMargin))

  /** Market-basket co-occurrence ([[Relational.coOccurrencePairs]]):
    * top supplier pairs appearing in the same order, with exact-ppm lift
    * vs independence — the association-rule screen. Pair blowup is
    * bounded by basket size (Σ m²), never corpus².
    */
  val cooccurrence = OpQ("op_cooccurrence",
    (s, d) => {
      val li = Tables.load(s, d, "lineitem")
      Relational.coOccurrencePairs(li, "l_orderkey", "l_suppkey")
        .orderBy(col("n_pair").desc, col("item_a"), col("item_b"))
        .limit(50)
    },
    Some("""WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_suppkey AS item
           |  FROM lineitem),
           |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM it GROUP BY item),
           |t AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS ntotal FROM it),
           |p AS (SELECT a.item AS item_a, b.item AS item_b,
           |        CAST(count(*) AS BIGINT) AS n_pair
           |      FROM it a JOIN it b ON a.g = b.g AND a.item < b.item
           |      GROUP BY 1, 2)
           |SELECT item_a, item_b, n_pair, ca.n AS n_a, cb.n AS n_b,
           |  ntotal AS n_groups,
           |  n_pair * ntotal * 1000000 // (ca.n * cb.n) AS lift_ppm
           |FROM p JOIN ic ca ON ca.item = item_a
           |       JOIN ic cb ON cb.item = item_b CROSS JOIN t
           |ORDER BY n_pair DESC, item_a, item_b LIMIT 50""".stripMargin))

  /** Distribution drift ([[Relational.distributionDrift]]): event-type
    * mix of the first half of January vs the second — exact ppm shares,
    * signed deltas, and integer χ² contributions; the snapshot-comparison
    * gate a training-data pipeline runs before accepting an ingest.
    */
  val driftCheck = OpQ("op_drift_check",
    (s, d) => {
      val ev = Tables.load(s, d, "events")
      val cut = lit("2024-01-16").cast("timestamp")
      Relational.distributionDrift(
        ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut), "event_type")
        .orderBy(col("event_type"))
    },
    Some("""WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
           |  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
           |b AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
           |  FROM events WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1),
           |sa AS (SELECT event_type,
           |    CAST(c * 1000000 // (SELECT SUM(c) FROM a) AS BIGINT)
           |    AS share_a_ppm FROM a),
           |sb AS (SELECT event_type,
           |    CAST(c * 1000000 // (SELECT SUM(c) FROM b) AS BIGINT)
           |    AS share_b_ppm FROM b)
           |SELECT event_type,
           |  COALESCE(share_a_ppm, 0) AS share_a_ppm,
           |  COALESCE(share_b_ppm, 0) AS share_b_ppm,
           |  COALESCE(share_a_ppm, 0) - COALESCE(share_b_ppm, 0) AS delta_ppm,
           |  CAST(CASE WHEN COALESCE(share_b_ppm, 0) > 0 THEN
           |    (COALESCE(share_a_ppm, 0) - share_b_ppm)
           |      * (COALESCE(share_a_ppm, 0) - share_b_ppm)
           |      * 1000000 // share_b_ppm
           |  END AS BIGINT) AS chi2_contrib
           |FROM sa FULL OUTER JOIN sb USING (event_type)
           |ORDER BY event_type""".stripMargin))

  /** Exact distinct counting through mergeable fixed-width bitmaps —
    * the scalable exact-distinct rollup pattern (Spark 3.5+ bitmap
    * functions). Keys are bucketed by `bitmap_bucket_number` (32768 bits
    * per bucket) and each (group, bucket) aggregates one 4 KB bitmap via
    * `bitmap_construct_agg`; `sum(bitmap_count(...))` over buckets is the
    * exact distinct count. Unlike COUNT(DISTINCT) — whose partial state
    * is the key SET, so the shuffle carries one row per distinct key —
    * the bitmap shuffle carries one fixed-size row per (group, bucket):
    * at 100 TB a billion-key group moves ~30k bitmap rows, not 10⁹ key
    * rows, and bitmaps OR-merge associatively so AQE re-partitioning
    * cannot change results. Both aggregations are map-side combined.
    * Oracle: plain COUNT(DISTINCT) — the semantics being matched.
    */
  val bitmapDistinct = OpQ("op_bitmap_distinct",
    (s, d) => Tables.load(s, d, "lineitem")
      .groupBy(col("l_returnflag"), expr("bitmap_bucket_number(l_suppkey)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_suppkey))").as("bm"))
      .groupBy(col("l_returnflag"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_supp"),
        count(lit(1)).cast("long").as("n_buckets"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
           |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           |  CAST(COUNT(DISTINCT CAST(ceil(l_suppkey / 32768.0) AS BIGINT)) AS BIGINT) AS n_buckets
           |FROM lineitem GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin))

  /** URL decomposition — `parse_url` (protocol/host/path/query/fragment
    * plus single-parameter extraction) over deterministically constructed
    * URLs, cross-checked against DuckDB regexp extraction of the same
    * components. Pure per-row expressions inside whole-stage codegen:
    * zero shuffle, linear at any corpus size.
    */
  val urlFunctions = OpQ("op_url_functions",
    (s, d) => Tables.load(s, d, "documents")
      .withColumn("url", concat(
        lit("https://"), col("source"), lit(".example.com/"), col("lang"),
        lit("/doc/"), col("doc_id"), lit("?q="), col("lang"),
        lit("&id="), col("doc_id"), lit("#s1")))
      .select(col("doc_id"), col("url"),
        expr("parse_url(url, 'PROTOCOL')").as("proto"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY')").as("query"),
        expr("parse_url(url, 'QUERY', 'id')").as("id_param"),
        expr("parse_url(url, 'REF')").as("fragment"))
      .orderBy(col("doc_id")),
    Some("""WITH u AS (
           |  SELECT doc_id,
           |    'https://' || source || '.example.com/' || lang || '/doc/' ||
           |      doc_id || '?q=' || lang || '&id=' || doc_id || '#s1' AS url
           |  FROM documents)
           |SELECT doc_id, url,
           |  regexp_extract(url, '^([a-z]+)://', 1) AS proto,
           |  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           |  regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           |  regexp_extract(url, '\?([^#]*)', 1) AS query,
           |  regexp_extract(url, '[?&]id=([^&#]*)', 1) AS id_param,
           |  regexp_extract(url, '#(.*)$', 1) AS fragment
           |FROM u ORDER BY doc_id""".stripMargin))

  /** Welch's two-sample t-test per event_type (unequal variances; the
    * A/B-comparison primitive an analytics engine runs after a split
    * experiment). Groups: even vs odd user_id — a deterministic split
    * present at every SF. All first/second moments are exact BIGINT cent
    * sums (one map-side-combined shuffle; partition-order invariant), and
    * the t statistic and Welch–Satterthwaite df come from the SAME
    * chained scalar double expressions on both engines, so the FLOOR(×1e3)
    * fixings hash-match bit-exactly. At 100 TB the only cost is the one
    * groupBy shuffle over 6 long columns — the test itself is O(groups).
    */
  val statsTtest = OpQ("op_stats_ttest",
    (s, d) => Tables.load(s, d, "events")
      .select(col("event_type"),
        (col("user_id") % 2 === 0).as("in_a"),
        Relational.cents(col("value")).as("c"))
      .groupBy(col("event_type"))
      .agg(
        count(when(col("in_a"), lit(1))).as("na"),
        count(when(!col("in_a"), lit(1))).as("nb"),
        sum(when(col("in_a"), col("c"))).as("s1a"),
        sum(when(col("in_a"), col("c") * col("c"))).as("s2a"),
        sum(when(!col("in_a"), col("c"))).as("s1b"),
        sum(when(!col("in_a"), col("c") * col("c"))).as("s2b"))
      .selectExpr("event_type", "na", "nb",
        "CAST(s1a AS DOUBLE) / na / 100.0 AS ma",
        "CAST(s1b AS DOUBLE) / nb / 100.0 AS mb",
        "(CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / na) / (na - 1) / 10000.0 / na AS ra",
        "(CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / nb) / (nb - 1) / 10000.0 / nb AS rb")
      .selectExpr("event_type",
        "CAST(na AS BIGINT) AS n_a", "CAST(nb AS BIGINT) AS n_b",
        "CAST(FLOOR((ma - mb) / SQRT(ra + rb) * 1000) AS BIGINT) AS t_milli",
        "CAST(FLOOR((ra + rb) * (ra + rb) / (ra * ra / (na - 1) + rb * rb / (nb - 1)) * 1000) AS BIGINT) AS df_milli")
      .orderBy(col("event_type")),
    Some("""WITH v AS (SELECT event_type, user_id % 2 = 0 AS in_a,
           |    CAST(FLOOR(value * 100) AS BIGINT) AS c FROM events),
           |m AS (SELECT event_type,
           |    COUNT(CASE WHEN in_a THEN 1 END) AS na,
           |    COUNT(CASE WHEN NOT in_a THEN 1 END) AS nb,
           |    CAST(SUM(CASE WHEN in_a THEN c END) AS BIGINT) AS s1a,
           |    CAST(SUM(CASE WHEN in_a THEN c * c END) AS BIGINT) AS s2a,
           |    CAST(SUM(CASE WHEN NOT in_a THEN c END) AS BIGINT) AS s1b,
           |    CAST(SUM(CASE WHEN NOT in_a THEN c * c END) AS BIGINT) AS s2b
           |  FROM v GROUP BY event_type),
           |w AS (SELECT event_type, na, nb,
           |    CAST(s1a AS DOUBLE) / na / 100.0 AS ma,
           |    CAST(s1b AS DOUBLE) / nb / 100.0 AS mb,
           |    (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / na) / (na - 1) / 10000.0 / na AS ra,
           |    (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / nb) / (nb - 1) / 10000.0 / nb AS rb
           |  FROM m)
           |SELECT event_type,
           |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           |  CAST(FLOOR((ma - mb) / SQRT(ra + rb) * 1000) AS BIGINT) AS t_milli,
           |  CAST(FLOOR((ra + rb) * (ra + rb) / (ra * ra / (na - 1) + rb * rb / (nb - 1)) * 1000) AS BIGINT) AS df_milli
           |FROM w ORDER BY event_type""".stripMargin))

  val all: Seq[OpQ] = Seq(joinSalted, joinAsOf, joinAsOfNative, joinRange, joinBucketed,
    tableDiff, interpLinear, mapFunctions, histogramEquifreq,
    histogramEquifreqApprox, skewDiagnose,
    sequenceMatch, anomalyZscore, incrAggMerge, incrDistinctSketch, sketchIntersect,
    incrDistinctExact, dataQuality, featureStandardize, arrayFunctions,
    timeseriesEwma, timeseriesOhlc,
    recursiveCte, unpivot, joinLateral, joinJaroWinkler,
    setUnionByName, explodeGenerator, graphComponents, graphPageRank,
    mergeUpsert, mergeScd2,
    cdcApply, histogram, stringAgg,
    joinBloomPrefilter, statsCorr,
    approxCountDistinct, approxQuantile, percentileExact, jsonFunctions,
    jsonVariant, layoutZorder, timeseriesGapfill, windowIgnoreNulls, groupingId,
    tableChecksum, profileTable, funnel, cohortRetention, graphTriangles,
    joinNullSafe, notInNulls, relDivision, joinFuzzy,
    sourceCsvRoundtrip, sourceJsonRoundtrip, sourcePartitionedParquet,
    sourceOrcRoundtrip, sourceTextRoundtrip, sourceXmlRoundtrip,
    attributionMultitouch, timeseriesVwap, prorate, statsMad,
    statsWinsorize, snapshotAsOf, cooccurrence, driftCheck,
    bitmapDistinct, urlFunctions, profileTableApprox, joinDpp, statsTtest)
}
