package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan auditor and GATE — `sbt "runMain graft.PlanCheck [sfDir]"`.
  *
  * Prints, for every driver query, the scale-critical properties of its
  * physical plan: parquet filter pushdown, join strategies (broadcast vs
  * shuffle), top-k, whole-stage codegen and exchange counts. This is the
  * ".explain and iterate" loop from the build brief turned into a
  * repeatable report.
  *
  * It is also a FAILING gate: [[rules]] pins 220 invariants across 201
  * audited queries (a pushed filter that stops pushing, a dim join
  * degrading to sort-merge, a top-k degrading to a global sort, a
  * map-only operator growing a join or extra exchange); the main exits
  * non-zero on any violation, and `PlanGateSpec` runs the same audit at
  * sf0.001 under `sbt test`. A rule marked `sparkPath` reads the plan
  * built at broadcast threshold `-1`, for an operator whose
  * broadcast-sized input runs on the driver at the session threshold.
  */
object PlanCheck {

  /** Named plan-feature counts extracted from an executedPlan string. */
  private[graft] def planFeatures(plan: String): Map[String, Int] = {
    def count(s: String): Int = s.r.findAllIn(plan).length
    Map(
      "bhj" -> count("BroadcastHashJoin"),
      "smj" -> count("SortMergeJoin"),
      "shj" -> count("ShuffledHashJoin"),
      "bnlj" -> count("BroadcastNestedLoopJoin"),
      "cartesian" -> count("CartesianProduct"),
      "topk" -> count("TakeOrderedAndProject"),
      "partial_agg" -> count("HashAggregate"),
      "wscg" -> count("WholeStageCodegen"),
      "exchange" -> count("Exchange "),
      "pushed_filters" -> "PushedFilters: \\[[^\\]]".r.findAllIn(plan).length,
      "bloom" -> count("(?i)might_contain"),
      "dpp" -> count("(?i)dynamicpruning"),
      "wgl" -> count("WindowGroupLimit"),
      // Sort OPERATORS only ("Sort [col ...]"), not SortAggregate — the
      // r19 profile win was removing the full sorts of (N+1)× Expand
      // output; this keeps that pin expressible (r19 advice)
      "sort" -> count("Sort \\["),
      // the PERCENT forms' scale plan: approx_percentile cutoff column
      // (produced by the broadcast stats row) referenced by the pre-rank
      // filter — presence pins the filter-below-window shape
      "pcut" -> count("__pcut"),
      "global_window" -> globalWindows(plan))
  }

  /** Count of UNPARTITIONED Window nodes in an executed-plan string — the
    * shape that collapses to a single-partition sort at scale. Bracket-
    * group counting is ambiguous (partitioned-unordered and global-ordered
    * windows both print two groups), so this inspects each
    * `windowspecdefinition(part..., order..., frame)` instead: partition
    * columns print bare, order columns carry an `ASC/DESC NULLS` marker,
    * and the frame spec is last — a spec whose FIRST top-level argument is
    * already an order column or the frame itself has no partition columns.
    * `WindowGroupLimit` lines never contain the literal `"Window ["`.
    */
  private[graft] def globalWindows(plan: String): Int =
    plan.linesIterator.count { line =>
      line.contains("Window [") && {
        "windowspecdefinition\\(".r.findAllMatchIn(line).map(_.end).exists { start =>
          var depth = 1
          var j = start
          val first = new StringBuilder
          while (j < line.length && depth > 0 &&
              !(depth == 1 && line.charAt(j) == ',')) {
            line.charAt(j) match {
              case '(' => depth += 1
              case ')' => depth -= 1
              case _ =>
            }
            if (depth > 0) first.append(line.charAt(j))
            j += 1
          }
          val arg = first.toString
          arg.startsWith("specifiedwindowframe") ||
            arg.contains(" ASC NULLS") || arg.contains(" DESC NULLS")
        }
      }
    }

  /** Queries deliberately keeping a global (unpartitioned) window — each
    * must justify why the shape survives scale. Anything else that grows
    * one fails [[windowLint]].
    */
  private[graft] val globalWindowAllowlist: Map[String, String] = Map(
    "op_timeseries_gapfill" ->
      "forward-fill over the generated date spine (~90 broadcast-sized rows), never the corpus",
    "op_histogram_equifreq" ->
      ("r20 scalable exact ntile (Relational.globalNtile): the surviving " +
        "unpartitioned window runs over the per-range-partition COUNTS " +
        "(≤ shuffle-partition-count rows) to build rank offsets; the data " +
        "rows themselves are never single-partitioned"),
    "op_interp_linear" ->
      ("interpolation over the generated Q1-1995 day spine (90 rows, broadcast-sized), " +
        "opted in via interpolateLinear's explicit globalWindowOk flag; per-series " +
        "corpora use the partitionCols path and need no opt-in"),
    "llm_retrieval_rrf" ->
      ("rrfFuse windows partition by query_id; the single-query gate passes a literal " +
        "query id that constant-folds away — inputs are top-k legs (≤50 rows/query, " +
        "broadcast-sized), and multi-query fusion keeps the keyed partition"),
    "llm_corpus_concentration" ->
      ("rank/cum-share windows run on the groupBy-collapsed per-source frame — " +
        "|sources| rows at ANY corpus scale; the corpus itself is scanned once"),
    "op_dialect_pg_fetch_ties" ->
      ("WITH TIES rank filter: InferWindowGroupLimit pre-prunes every partition " +
        "to ≤ n rows before the single-partition rank — the same residual shape " +
        "as a global top-k (WindowGroupLimit pinned by rule)"),
    "op_dialect_pg_fetch_ties_nulls" ->
      ("WITH TIES rank filter over a nullable key: same WindowGroupLimit " +
        "pre-prune as op_dialect_pg_fetch_ties (pinned by rule)"),
    "op_dialect_tsql_top_ties" ->
      ("WITH TIES rank filter: InferWindowGroupLimit pre-prunes every partition " +
        "to ≤ n rows before the single-partition rank — the same residual shape " +
        "as a global top-k (WindowGroupLimit pinned by rule)"),
    "op_dialect_pg_fetch_ties_row" ->
      ("count-omitted WITH TIES (rank <= 1): same WindowGroupLimit pre-prune " +
        "as op_dialect_pg_fetch_ties (pinned by rule)"),
    "op_dialect_pg_filter_window" ->
      ("windowed-FILTER construct gate on a ≤500-key slice; the global running " +
        "window is the USER'S OVER clause passed through verbatim — a production " +
        "pipeline partitions it, and the rewrite (transform composed over the " +
        "window) preserves any PARTITION BY unchanged"),
    "op_dialect_tsql_top_percent" ->
      ("TOP n PERCENT keeps one exact global rank window by DEFINITION, but " +
        "since r16 its input is PRE-FILTERED below the window to ~n% of rows " +
        "by the approx_percentile cutoff (broadcast one-row stats; exactness " +
        "guard in Dialect.rankRows.scalePlan, pcut filter pinned by rule) " +
        "— the single-partition stage no longer sees the whole relation"),
    "op_dialect_pg_fetch_ties_offset" ->
      ("OFFSET+TIES paging is global top-(m+n) by definition; the static " +
        "rank <= m+n filter sits directly above the rank/row_number window " +
        "bounding the frame before the cutoff-rank global max runs, so no " +
        "unbounded data reaches the single-partition stage"),
    "op_dialect_oracle_fetch_percent" ->
      ("FETCH FIRST n PERCENT keeps one exact global rank window by DEFINITION, " +
        "but since r16 its input is PRE-FILTERED below the window to ~n% of " +
        "rows by the approx_percentile cutoff — same two-stage scale plan as " +
        "op_dialect_tsql_top_percent (pcut filter pinned by rule); the r18 " +
        "OFFSET leg's row_number membership runs over the same pre-filtered " +
        "frame (the guard covers the m skipped rows too)"),
    "op_dialect_teradata_top_ties_qualify" ->
      ("TOP WITH TIES / TOP PERCENT over QUALIFY-filtered rows: the rank input " +
        "is the KEYED-window qualify output (one row per (priority, bucket) " +
        "group — bounded by the key product, never the corpus), the TIES leg " +
        "keeps the WindowGroupLimit pre-prune, and the PERCENT leg's string " +
        "key takes the documented legacy fallback over that same collapsed " +
        "input"),
    "op_dialect_tsql_setop_top_percent" ->
      ("arm-scoped TOP PERCENT keeps per-arm global count/rank windows by " +
        "DEFINITION: the percent base is the WHOLE arm, and T-SQL rejects an " +
        "ORDER BY inside an arm, so there is no sort key to pre-filter on " +
        "(the pcut two-stage plan needs one); each arm's window input is a " +
        "pushed-filter slice, never the full relation"),
    "op_dialect_oracle_fetch_percent_ties_offset" ->
      ("OFFSET+PERCENT WITH TIES over a STRING leading key pins the legacy " +
        "fallback (non-sketchable key → no pcut prefilter, by rule): the " +
        "count/rank/cutoff-max windows are the construct's exact semantics, " +
        "and the static rank <= m+k filter bounds the cutoff-max frame like " +
        "op_dialect_pg_fetch_ties_offset; the scale path for sketchable keys " +
        "is the op_dialect_oracle_fetch_percent OFFSET leg"),
    "op_dialect_tsql_top_ties_subquery" ->
      ("subquery-level WITH TIES rank filter: the same WindowGroupLimit " +
        "pre-prune as op_dialect_tsql_top_ties applies inside the subquery " +
        "(pinned by rule)"),
    "op_dialect_pg_fetch_ties_star" ->
      ("star-expanded WITH TIES rank filter: identical shape to " +
        "op_dialect_pg_fetch_ties — InferWindowGroupLimit pre-prunes every " +
        "partition to ≤ n rows before the single-partition rank (pinned by rule)"),
    "op_dialect_pg_distinct_ties" ->
      ("DISTINCT + WITH TIES: the rank runs over the groupBy-collapsed " +
        "DISTINCT output (|distinct pairs| rows, map-side combined) with the " +
        "same WindowGroupLimit pre-prune as op_dialect_pg_fetch_ties " +
        "(pinned by rule)"),
    "op_dialect_trino_fetch_paging" ->
      ("Trino WITH TIES rank filter: the same WindowGroupLimit pre-prune " +
        "as op_dialect_pg_fetch_ties (pinned by rule); the OFFSET…FETCH leg " +
        "is a plain LIMIT/OFFSET"),
    "op_dialect_pg_setop_ties" ->
      ("WITH TIES over a UNION: the rank runs over the dedup-collapsed " +
        "(map-side-combined) set-op output with the same WindowGroupLimit " +
        "pre-prune as op_dialect_pg_fetch_ties; the OFFSET leg's static " +
        "rank <= m+n filter bounds the cutoff-max frame (both pinned by rule)"),
    "op_dialect_oracle_setop_percent" ->
      ("FETCH PERCENT over a UNION ALL keeps one exact global rank window " +
        "by DEFINITION, but its input is PRE-FILTERED below the window to " +
        "~n% of rows by the approx_percentile cutoff — the same two-stage " +
        "scale plan as op_dialect_oracle_fetch_percent, now fed by the " +
        "set-op subquery (pcut filter pinned by rule)"),
    "op_dialect_tsql_distinct_top_percent" ->
      ("DISTINCT TOP PERCENT keeps one exact global rank window by " +
        "DEFINITION, but since r17 its input is the DISTINCT subquery " +
        "PRE-FILTERED below the window by the approx_percentile cutoff " +
        "(the stats stage counts the distinct OUTPUT — the percent base; " +
        "pcut + broadcast stats pinned by rule), so the single-partition " +
        "stage sees ~n% of the distinct rows, not all of them"))

  /** Suite-wide lint: NO query's plan may contain an unpartitioned Window
    * over non-broadcast input unless allowlisted above — turns the bench
    * tail's `WindowExec: No Partition Defined` warnings into a regression
    * gate (every new query is covered automatically). Returns violations.
    */
  def windowLint(plans: Seq[(String, Either[String, String])]): Seq[String] =
    plans.flatMap { case (name, p) =>
      if (globalWindowAllowlist.contains(name)) Nil
      else p match {
        case Left(err) => Seq(s"$name: ERROR $err")
        case Right(plan) =>
          val n = planFeatures(plan)("global_window")
          if (n > 0)
            Seq(s"$name: VIOLATION $n unpartitioned Window node(s) — " +
              "single-partition sort at scale; partition it or allowlist with a justification")
          else Nil
      }
    }

  def windowLint(spark: SparkSession, sfDir: String): Seq[String] =
    windowLint(planStrings(spark, sfDir))

  /** One pinned invariant on one audited query's physical plan: the plan
    * built at the session's broadcast threshold, or, with `sparkPath`, at
    * `-1` ([[SparkPathSuffix]]), where an operator that runs broadcast-sized
    * input on the driver builds its Spark plan instead.
    */
  final case class Rule(query: String, desc: String, check: Map[String, Int] => Boolean,
      sparkPath: Boolean = false)

  /** The name suffix of a query's plan built at broadcast threshold `-1`. */
  val SparkPathSuffix = " @threshold -1"

  /** Conservative floors recorded from the sf0.001 plans — AQE may improve
    * on them at runtime, but the static plan must already satisfy them.
    */
  val rules: Seq[Rule] = Seq(
    Rule("q1_pricing_summary", "shipdate filter pushed to the parquet scan", _("pushed_filters") >= 1),
    Rule("q1_pricing_summary", "partial (map-side) + final aggregation", _("partial_agg") >= 2),
    Rule("q1_pricing_summary", "no join in a scan→agg query",
      f => f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    // r13: the most expensive TPC-H query (0.76s, stable r10-r12) gets its
    // correlated-min decorrelation pinned — recorded sf0.001 floor:
    // bhj=7 smj=1 exchange=12 pushed_filters=9 topk=1 (the one smj is the
    // partsupp-vs-min-cost self-join, legitimately shuffle-sized at scale)
    Rule("q2_min_cost_supplier", "dim joins broadcast after decorrelation", _("bhj") >= 3),
    Rule("q2_min_cost_supplier", "decorrelated min-cost subquery never degrades to cartesian/BNLJ",
      f => f("cartesian") + f("bnlj") == 0),
    Rule("q2_min_cost_supplier", "top-100 via TakeOrderedAndProject, not a global sort", _("topk") >= 1),
    Rule("q2_min_cost_supplier", "region/type filters pushed to the parquet scans", _("pushed_filters") >= 5),
    Rule("q2_min_cost_supplier", "exchange count stays at the recorded decorrelation shape", _("exchange") <= 12),
    Rule("q3_shipping_priority", "top-10 via TakeOrderedAndProject, not a global sort", _("topk") >= 1),
    Rule("q3_shipping_priority", "customer/orders joins broadcast at this SF", _("bhj") >= 2),
    Rule("q5_local_supplier", "dim joins broadcast", _("bhj") >= 3),
    Rule("q6_forecast_revenue", "filters pushed to the parquet scan", _("pushed_filters") >= 1),
    Rule("q6_forecast_revenue", "scan→agg only: no shuffle join, one agg exchange",
      f => f("smj") + f("shj") == 0 && f("exchange") <= 1),
    Rule("q9_product_profit", "dim joins broadcast", _("bhj") >= 3),
    Rule("q18_large_volume_customer", "top-100 via TakeOrderedAndProject", _("topk") >= 1),
    // r12: q18's bench wobble (r10 0.67s → r11/r12 ~0.85s) re-measured as
    // environment variance — the executed plan is the intended one (all
    // joins broadcast incl. the HAVING semi-join set, map-side partial
    // aggs, no shuffle join) and is pinned here so a future slow round
    // can distinguish a real plan regression from container noise
    Rule("q18_large_volume_customer", "HAVING set + dims broadcast; never a shuffle join",
      f => f("bhj") >= 3 && f("smj") + f("shj") + f("cartesian") == 0 &&
        f("partial_agg") >= 2),
    Rule("q12_priority_lines", "shipmode/date filters pushed; orders join at this SF stays hash, no cartesian",
      f => f("pushed_filters") >= 1 && f("cartesian") + f("bnlj") == 0),
    // r14: the four r13 bench wobbles (q10/q11/q15/q17, +39-64% vs r12)
    // re-measured 3x uncontended at sf0.1 — medians back in the r12 band,
    // i.e. container variance (see SCALE.md bench-wobble table) — and
    // their intended plans pinned so the next slow round is decidable.
    // Recorded sf0.001 shapes: q10 bhj=3 exch=4 pushed=4 topk=1;
    // q11 bhj=4 exch=7 partial=4 pushed=6; q15 bhj=1 exch=5 partial=6
    // pushed=3; q17 bhj=2 exch=4 partial=4 pushed=3.
    Rule("q10_returned_items", "top-20 via TakeOrderedAndProject; dims broadcast, never a shuffle join",
      f => f("topk") >= 1 && f("bhj") >= 3 &&
        f("smj") + f("shj") + f("cartesian") + f("bnlj") == 0),
    Rule("q10_returned_items", "returnflag/date filters pushed; exchange count stays at the recorded shape",
      f => f("pushed_filters") >= 4 && f("exchange") <= 4),
    Rule("q11_important_stock", "HAVING scalar-subquery decorrelation: all joins broadcast, map-side partials",
      f => f("bhj") >= 3 && f("smj") + f("shj") + f("cartesian") + f("bnlj") == 0 &&
        f("partial_agg") >= 4),
    Rule("q11_important_stock", "nation filters pushed on both aggregate arms; recorded exchange budget",
      f => f("pushed_filters") >= 5 && f("exchange") <= 7),
    Rule("q15_top_supplier", "revenue-view max subquery: supplier join broadcast, no shuffle join, map-side partials",
      f => f("bhj") >= 1 && f("smj") + f("shj") + f("cartesian") == 0 &&
        f("partial_agg") >= 4),
    Rule("q15_top_supplier", "shipdate filters pushed to both revenue scans; recorded exchange budget",
      f => f("pushed_filters") >= 2 && f("exchange") <= 5),
    Rule("q17_small_quantity", "avg-quantity decorrelation: part side broadcast, never cartesian/shuffle join",
      f => f("bhj") >= 2 && f("smj") + f("shj") + f("cartesian") + f("bnlj") == 0 &&
        f("partial_agg") >= 4),
    Rule("q17_small_quantity", "brand/container filters pushed; recorded exchange budget",
      f => f("pushed_filters") >= 3 && f("exchange") <= 4),
    Rule("q21_waiting_supplier", "single lineitem scan: EXISTS/NOT EXISTS collapsed into " +
      "one per-order window pass (r20); orders/supplier/nation joins broadcast",
      f => f("bhj") >= 3 && f("cartesian") == 0 && f("global_window") == 0),
    Rule("q21_waiting_supplier", "top-k via TakeOrderedAndProject", _("topk") >= 1),
    Rule("op_topk", "TakeOrderedAndProject with NO exchange (a global sort would shuffle)",
      f => f("topk") >= 1 && f("exchange") == 0),
    Rule("op_scan_project_filter_limit", "filter pushed to the parquet scan", _("pushed_filters") >= 1),
    Rule("op_join_inner", "small side broadcast", _("bhj") >= 1),
    Rule("op_join_multiway", "left-deep dim joins all broadcast", _("bhj") >= 3),
    Rule("op_join_semi", "native broadcast semi join", _("bhj") >= 1),
    Rule("op_join_anti", "native broadcast anti join", _("bhj") >= 1),
    Rule("llm_text_top_tokens", "global top-k via TakeOrderedAndProject", _("topk") >= 1),
    Rule("llm_dedup_minhash", "gate joins are equi-joins over checkpointed cluster rows — " +
      "never a cartesian, and the per-row signature replay adds no exchange",
      f => f("exchange") <= 8 && f("cartesian") + f("bnlj") == 0),
    Rule("llm_dedup_ngram_jaccard", "pair ranking via TakeOrderedAndProject", _("topk") >= 1),
    Rule("llm_text_redact", "pure per-row scan: no join, one output exchange",
      f => f("exchange") <= 1 && f("bhj") + f("smj") + f("shj") + f("bnlj") == 0),
    Rule("llm_text_stats", "pure per-row scan: one output exchange", _("exchange") <= 1),
    Rule("llm_multimodal_png", "decode is a map stage: no join, one output exchange",
      f => f("exchange") <= 1 && f("bhj") + f("smj") + f("shj") + f("bnlj") == 0),
    Rule("llm_sample_stratified", "one window shuffle, no global sort",
      f => f("exchange") <= 2 && f("bhj") + f("smj") + f("shj") + f("bnlj") == 0),
    Rule("op_percentile_exact", "partial + final ordered-set aggregation", _("partial_agg") >= 2),
    Rule("op_dialect_qualify", "QUALIFY rewrite keeps the top-k shape", _("topk") >= 1),
    Rule("op_dialect_qualify_star", "star-expanded QUALIFY keeps the keyed (partitioned) " +
      "window with a per-key WindowGroupLimit pre-prune; no joins",
      f => f("wgl") >= 1 && f("global_window") == 0 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_qualify_cte", "CTE-level QUALIFY keeps the keyed window + WindowGroupLimit " +
      "pre-prune below a map-side-combined aggregate; no joins",
      f => f("wgl") >= 1 && f("global_window") == 0 && f("partial_agg") >= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("stream_interval_join", "event-type filters pushed to the scan", _("pushed_filters") >= 2),
    Rule("stream_interval_join", "a real join (any strategy), never cartesian",
      f => f("bhj") + f("smj") + f("shj") >= 1 && f("cartesian") == 0),
    Rule("llm_decontaminate", "blocklist shingles BROADCAST to the scan side",
      _("bhj") >= 1),
    Rule("llm_chunk_documents", "chunking is a shuffle-free generator", _("exchange") <= 1),
    Rule("llm_text_repetition", "partial map-side combine on the bigram histogram",
      _("partial_agg") >= 4),
    Rule("op_dialect_distinct_on", "DISTINCT ON rewrite keeps the top-k shape",
      _("topk") >= 1),
    Rule("op_merge_upsert", "upsert's anti join broadcasts the small delta",
      f => f("bhj") >= 1 && f("cartesian") == 0),
    Rule("op_merge_upsert", "key filters pushed to the parquet scans", _("pushed_filters") >= 2),
    Rule("op_string_agg", "partial + final listagg aggregation", _("partial_agg") >= 2),
    Rule("op_string_agg", "key filter pushed to the parquet scan", _("pushed_filters") >= 1),
    Rule("op_dialect_mysql", "LIMIT offset,count rewrite keeps the top-k shape", _("topk") >= 1),
    Rule("op_dialect_mysql_group_concat", "two-phase DISTINCT listagg", _("partial_agg") >= 2),
    Rule("op_dialect_hive", "LATERAL VIEW agg keeps partial aggregation and pushdown",
      f => f("partial_agg") >= 2 && f("pushed_filters") >= 1),
    Rule("op_graph_components", "converged labels read from the checkpoint: output exchange only",
      f => f("exchange") <= 1 && f("bhj") + f("smj") + f("shj") + f("bnlj") == 0),
    Rule("op_join_bloom_prefilter", "bloom predicate applied on the probe side before the exact join",
      _("bloom") >= 1),
    Rule("op_join_bloom_prefilter", "exact semi join present (false positives must die)",
      f => f("bhj") + f("smj") + f("shj") >= 1 && f("cartesian") == 0),
    Rule("llm_shuffle_shard", "one window shuffle + output range sort, no joins",
      f => f("exchange") <= 2 && f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_mix_token_budget", "quota side joins by BROADCAST (corpus never shuffle-joins)",
      f => f("bhj") >= 1 && f("smj") + f("shj") + f("cartesian") == 0),
    Rule("llm_dedup_paragraph", "partial-aggregating first-occurrence groupBy, nothing pairwise",
      f => f("partial_agg") >= 2 && f("cartesian") + f("bnlj") == 0),
    Rule("llm_decontaminate_neardup", "inverted-index equi-join on the shingle hash, never pairwise",
      f => f("bhj") + f("smj") + f("shj") >= 1 && f("cartesian") + f("bnlj") == 0),
    Rule("llm_dedup_cluster_stats", "pair graph + components, nothing pairwise; " +
      "converged labels read from the checkpoint",
      f => f("cartesian") + f("bnlj") == 0),
    Rule("llm_contamination_report", "bipartite shingle equi-join + one aggregate, never pairwise",
      f => f("bhj") + f("smj") + f("shj") >= 1 && f("cartesian") + f("bnlj") == 0),
    Rule("llm_text_keywords", "partial map-side tf aggregation; df join is an equi-join",
      f => f("partial_agg") >= 2 && f("cartesian") + f("bnlj") == 0),
    Rule("llm_text_bm25", "top-k via TakeOrderedAndProject; df/dl joins broadcast " +
      "(the single bnlj is the 1-row totals broadcast)",
      f => f("topk") >= 1 && f("smj") + f("shj") + f("cartesian") == 0 &&
        f("bnlj") <= 1 && f("bhj") >= 2),
    Rule("llm_text_normalize", "pure per-row normalize: no join, one output exchange",
      f => f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0 &&
        f("exchange") <= 1),
    Rule("llm_dedup_span", "span-key shuffles only: no pairwise join shapes, map-side partial agg",
      f => f("cartesian") + f("bnlj") == 0 && f("partial_agg") >= 2),
    Rule("op_json_variant", "per-row variant extraction: no join, one output exchange",
      f => f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0 &&
        f("exchange") <= 1),
    Rule("op_layout_zorder", "Morton top-k with ZERO exchange (pure scan→TakeOrdered)",
      f => f("topk") >= 1 && f("exchange") == 0),
    Rule("op_merge_scd2", "every delta join broadcasts; no sort-merge/cartesian fallback",
      f => f("bhj") >= 4 && f("smj") + f("shj") + f("cartesian") == 0),
    Rule("stream_static_join", "static dim joined by broadcast; stream side never shuffles for the join",
      f => f("bhj") >= 1 && f("smj") + f("shj") == 0),
    Rule("op_timeseries_gapfill", "price+date filters pushed; spine join broadcast; map-side partial agg",
      f => f("pushed_filters") >= 1 && f("bhj") >= 1 && f("smj") + f("shj") == 0 &&
        f("partial_agg") >= 2),
    Rule("op_grouping_id", "grouping sets expand map-side (partial agg), no join",
      f => f("partial_agg") >= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("op_window_ignore_nulls", "custkey filter pushed to the scan; no join",
      f => f("pushed_filters") >= 1 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_dedup_incremental", "corpus probe joins by broadcast/hash, never cartesian; batch filters pushed",
      f => f("cartesian") + f("bnlj") == 0 && f("pushed_filters") >= 2),
    Rule("op_dialect_postgres", "translated text plans a pure top-k scan",
      f => f("topk") >= 1 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("op_table_checksum", "one map-combined aggregate, no join, one exchange",
      f => f("partial_agg") >= 2 && f("exchange") <= 1 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("op_funnel", "stage frames join by broadcast/hash, never nested-loop; type filters pushed",
      f => f("cartesian") + f("bnlj") == 0 && f("pushed_filters") >= 3 &&
        f("partial_agg") >= 2),
    Rule("op_cohort_retention", "first-seen frame broadcast onto the event scan; partial agg",
      f => f("bhj") >= 1 && f("smj") + f("shj") + f("cartesian") == 0 &&
        f("partial_agg") >= 2),
    Rule("op_graph_triangles", "both closure joins are equi-joins (never a node cross product)",
      f => f("cartesian") + f("bnlj") == 0 && f("partial_agg") >= 2),
    Rule("llm_vocab_oov", "vocab built by top-k and probed by broadcast; token agg map-combined",
      f => f("topk") >= 1 && f("bhj") >= 1 && f("smj") + f("shj") == 0 &&
        f("partial_agg") >= 2),
    Rule("op_join_null_safe", "null-safe join stays a broadcast equi-join (never nested-loop)",
      f => f("bhj") >= 1 && f("bnlj") + f("cartesian") == 0 &&
        f("pushed_filters") >= 2),
    Rule("op_not_in_nulls", "both subqueries plan as joins with pushed key filters",
      f => f("bhj") + f("smj") + f("shj") >= 1 && f("cartesian") == 0 &&
        f("pushed_filters") >= 2),
    Rule("op_rel_division", "divisor frame broadcast; two-phase distinct aggregation",
      f => f("bhj") >= 1 && f("smj") + f("shj") + f("cartesian") == 0 &&
        f("partial_agg") >= 2),
    Rule("llm_dedup_keep_best", "one cluster-key window shuffle, no join shapes",
      f => f("exchange") <= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_multimodal_resize", "resize is a map stage: no join, one output exchange",
      f => f("exchange") <= 1 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("op_join_fuzzy", "deletion-variant blocking joins as an equi-join, NEVER the cross product",
      f => f("bhj") + f("smj") + f("shj") >= 1 && f("bnlj") + f("cartesian") == 0),
    Rule("stream_session_window", "native session windows: partial agg, no join",
      f => f("partial_agg") >= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_text_novelty", "bigram-key equi-join, map-side partial aggs, nothing pairwise",
      f => f("partial_agg") >= 2 && f("cartesian") + f("bnlj") == 0),
    Rule("stream_interval_join_outer", "outer interval join: type filters pushed, never cartesian",
      f => f("bhj") + f("smj") + f("shj") >= 1 && f("cartesian") == 0 &&
        f("pushed_filters") >= 2),
    Rule("llm_ann_sq8_topk", "query side broadcast (one bnlj of the tiny query set), id filter pushed",
      f => f("bnlj") <= 1 && f("cartesian") == 0 && f("pushed_filters") >= 1),
    Rule("llm_multimodal_binary_files", "file listing + header parse: no join, one exchange",
      f => f("exchange") <= 1 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("op_source_text_roundtrip", "text scan: no join, one output sort exchange",
      f => f("exchange") <= 1 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_dedup_span_rewrite", "span/coverage joins are equi-joins, nothing pairwise",
      f => f("cartesian") + f("bnlj") == 0 && f("partial_agg") >= 2),
    Rule("op_dialect_sqlite", "translated text plans a pure top-k scan",
      f => f("topk") >= 1 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    // r19: the exact profile splits fixed-width aggregates (null counts +
    // exact distincts — HashAggregate over the Expand, no sort) from the
    // variable-width string min/max pass (keyless SortAggregate, no sort),
    // met by ONE broadcast cross join of two 1-row frames. The pinned
    // floor: the distinct tree stays HashAggregate (4 HashAggregate nodes
    // = partial/final × two aggs) and the only join is that 1-row bnlj —
    // never a shuffle join, never more than the recorded 4 exchanges
    // (2 distinct-Expand + 1 min/max + broadcast).
    Rule("op_profile_table", "split profile: hash-agg distinct tree + keyless min/max pass " +
      "joined by one 1-row broadcast cross join; no shuffle join; the only Sort operator " +
      "is the output orderBy — never above the Expand (r19 win, pinned per r19 advice)",
      f => f("exchange") <= 4 && f("partial_agg") >= 4 &&
        f("bnlj") <= 1 && f("sort") <= 1 &&
        f("bhj") + f("smj") + f("shj") + f("cartesian") == 0),
    Rule("op_cdc_apply", "touched-key anti join broadcasts the change batch; key filters pushed",
      f => f("bhj") >= 1 && f("smj") + f("shj") + f("cartesian") == 0 &&
        f("pushed_filters") >= 2),
    Rule("op_histogram", "constant-size bucket aggregate: partial agg, no join",
      f => f("partial_agg") >= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("op_join_bucketed", "bucketed scans co-locate the sort-merge join: ZERO join-side " +
      "exchange (only the agg + output-sort exchanges remain)",
      f => f("smj") >= 1 && f("bhj") == 0 && f("exchange") <= 2),
    Rule("stream_interval_join_full", "full outer interval join: type filters pushed, never cartesian",
      f => f("bhj") + f("smj") + f("shj") >= 1 && f("cartesian") == 0 &&
        f("pushed_filters") >= 2),
    Rule("op_sequence_match", "per-step chained joins stay broadcast/hash with pushed type filters, never cartesian",
      f => f("bhj") >= 1 && f("cartesian") + f("bnlj") == 0 &&
        f("pushed_filters") >= 3 && f("partial_agg") >= 4),
    Rule("op_anomaly_zscore", "group stats broadcast back onto the scan; corpus never shuffle-joins",
      f => f("bhj") >= 1 && f("smj") + f("shj") + f("cartesian") == 0 &&
        f("partial_agg") >= 2 && f("exchange") <= 3),
    Rule("op_incr_agg_merge", "state union merges with aggregation only: no join, date filters pushed",
      f => f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0 &&
        f("partial_agg") >= 4 && f("pushed_filters") >= 2 && f("exchange") <= 3),
    Rule("op_array_functions", "per-row lambda surface: top-k scan with ZERO exchange, no join",
      f => f("topk") >= 1 && f("exchange") == 0 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_sample_weighted", "weighted keep-predicate pushed into the scan: no join, one output exchange",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_dedup_url", "canonical-key dedup is one hash aggregation: no join, map-side partial agg",
      f => f("partial_agg") >= 2 && f("exchange") <= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_split_leakage", "md5-keyed collapse then global rollup: pure aggregation, no join shapes",
      f => f("partial_agg") >= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_split_leakage_neardup", "prefix-filtered pairs × split: equi-joins only, doc filter pushed",
      f => f("cartesian") + f("bnlj") == 0 && f("pushed_filters") >= 1 &&
        f("partial_agg") >= 2),
    Rule("llm_dedup_cross_source", "join runs on the COLLAPSED (key, source) table: equi only, map-side partials",
      f => f("cartesian") + f("bnlj") == 0 && f("partial_agg") >= 2),
    Rule("llm_packing_efficiency", "one token rollup, candidate lengths expand post-agg: no join, ≤2 exchanges",
      f => f("partial_agg") >= 2 && f("exchange") <= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_ann_pq_topk", "codebook + ADC dot tables join by broadcast; never a cross product " +
      "(the verification gate's exact brute force broadcasts its tiny query side as one bnlj)",
      f => f("bhj") >= 2 && f("cartesian") == 0 && f("bnlj") <= 1),
    Rule("op_timeseries_ewma", "one per-key fold shuffle: map-side partial agg, no join",
      f => f("partial_agg") >= 2 && f("exchange") <= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("op_timeseries_ohlc", "one (type, bucket) rollup shuffle: map-side partial agg, no join",
      f => f("partial_agg") >= 2 && f("exchange") <= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("op_dialect_oracle", "translated text keeps broadcast semi join, pushdown and the ROWNUM top-k",
      f => f("bhj") >= 1 && f("cartesian") == 0 && f("pushed_filters") >= 2 &&
        f("topk") >= 1),
    Rule("op_table_diff", "one co-partitioned diff join, never nested-loop; filters pushed",
      f => f("cartesian") + f("bnlj") == 0 && f("pushed_filters") >= 2),
    Rule("op_interp_linear", "generated spine joins broadcast; date+price filters pushed",
      f => f("bhj") >= 1 && f("smj") + f("shj") == 0 && f("pushed_filters") >= 1),
    Rule("op_map_functions", "map build+HOFs are agg work: partial agg, no join",
      f => f("partial_agg") >= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_text_lm_score", "vocab-sized count/total frames broadcast; no shuffle join",
      f => f("bhj") >= 1 && f("smj") + f("shj") == 0),
    Rule("llm_ngram_freq", "per-row gram expansion, map-side partial agg, top-k not global sort",
      f => f("partial_agg") >= 2 && f("topk") >= 1 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    // the broadcast blob join sits inside the RDD decode lineage, invisible
    // to this plan — pin what is visible: the signature grouping stage
    Rule("llm_multimodal_phash", "post-decode hash grouping: no join shapes, ≤2 exchanges",
      f => f("exchange") <= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_dedup_semantic", "pairwise stage is cell-keyed: one within-cell join, drop-set broadcast, never a global cross product",
      f => f("smj") <= 1 && f("bhj") >= 1 && f("cartesian") + f("bnlj") == 0),
    Rule("llm_mix_temperature", "domain-count rollup map-side combined; only the 1-row Σ joins (broadcast NL), nothing corpus-sized twice",
      f => f("partial_agg") >= 2 && f("bnlj") <= 1 &&
        f("smj") + f("shj") + f("cartesian") == 0),
    Rule("stream_topk_users", "stateful top-k: one keyed state exchange, no join",
      f => f("exchange") <= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("op_join_asof_native", "native merge operator: no SMJ/window fallback, SMJ-like exchange budget, type filters pushed",
      f => f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0 &&
        f("exchange") <= 4 && f("pushed_filters") >= 2),
    Rule("op_histogram_equifreq", "scalable exact ntile: ranks from checkpointed range " +
      "partitions; offset/total frames broadcast (equi + one 1-row bnlj); never a shuffle join",
      f => f("smj") + f("shj") + f("cartesian") == 0 && f("bhj") >= 1 &&
        f("bnlj") <= 1 && f("partial_agg") >= 2),
    Rule("op_skew_diagnose", "key rollup map-side combined; only the 1-row global frame joins; top-5 via TakeOrdered",
      f => f("partial_agg") >= 2 && f("topk") >= 1 && f("bnlj") <= 1 &&
        f("smj") + f("shj") + f("cartesian") == 0),
    Rule("stream_gap_detect", "one keyed window shuffle, no join",
      f => f("exchange") <= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("llm_dedup_winnow", "fingerprint inverted-index join (equi, never nested-loop); length filter pushed; pair ranking via TakeOrdered",
      f => f("cartesian") + f("bnlj") == 0 && f("pushed_filters") >= 1 &&
        f("partial_agg") >= 2 && f("topk") >= 1),
    Rule("op_dialect_tsql", "TOP n rewrite yields TakeOrderedAndProject; WHERE pushed to the scan",
      f => f("topk") >= 1 && f("pushed_filters") >= 1),
    Rule("op_timeseries_vwap", "scan→agg only: partial+final combine, no joins",
      f => f("partial_agg") >= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("op_attribution_multitouch", "event-type filters pushed; interval join is a real equi-keyed join, never cartesian",
      f => f("pushed_filters") >= 2 && f("cartesian") == 0 &&
        f("bhj") + f("smj") + f("shj") >= 1),
    Rule("op_data_quality", "all row-level constraints fold into partial aggregation; FK probe broadcasts",
      f => f("partial_agg") >= 2 && f("bhj") >= 1),
    Rule("op_incr_distinct_exact", "bitmap distinct state builds with map-side combine; date filters pushed",
      f => f("partial_agg") >= 2 && f("pushed_filters") >= 2),
    Rule("op_incr_distinct_sketch", "HLL distinct state builds with map-side combine; date filters pushed",
      f => f("partial_agg") >= 2 && f("pushed_filters") >= 2),
    Rule("stream_cdc_apply", "stateful fold shuffles once on key (+ output sort), no join",
      f => f("exchange") <= 2 &&
        f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0),
    Rule("op_stats_mad", "per-key median/MAD stats broadcast back onto the scan, never shuffled",
      f => f("bhj") >= 2 && f("smj") + f("shj") == 0),
    Rule("op_stats_winsorize", "percentile bounds broadcast back onto the scan, never shuffled",
      f => f("bhj") >= 1 && f("smj") + f("shj") == 0),
    Rule("op_snapshot_asof", "as-of cutoff pushed to the parquet scan; one key shuffle + output sort",
      f => f("pushed_filters") >= 1 && f("exchange") <= 2),
    Rule("llm_split_train_val", "pure per-row split assignment: no join, no aggregation",
      f => f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0 &&
        f("partial_agg") == 0),
    Rule("llm_bpe_pairs", "word collapse and pair count both map-side combined; top-k not a global sort",
      f => f("partial_agg") >= 4 && f("topk") >= 1),
    Rule("llm_bpe_encode", "pure per-row merge-chain codegen: no join shapes, no aggregation, only the output sort exchanges",
      f => f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0 &&
        f("partial_agg") == 0 && f("exchange") <= 1 && f("global_window") == 0),
    // r13: learn-then-encode pipeline — the learned merge table enters the
    // encode scan as ONE 1-row broadcast array (bnlj=1); everything else
    // is per-row codegen + the learned-array collapse (recorded sf0.001
    // shape: bnlj=1 exchange=4 partial_agg=2). A collect would show as a
    // LocalTableScan replacing the bnlj; a shuffle join as smj/shj.
    Rule("llm_bpe_pipeline", "learned merges ride a single 1-row broadcast; encode side never shuffle-joins",
      f => f("bnlj") <= 1 && f("cartesian") + f("smj") + f("shj") == 0 &&
        f("exchange") <= 4 && f("global_window") == 0),
    // r13: langid scores + encode chain FUSE into one scan — a join here
    // means the compose degraded to two corpus scans joined on doc_id
    Rule("llm_tokenizer_fertility", "per-row langid+encode fused: NO join, map-side-combined per-lang aggregate",
      f => f("bhj") + f("smj") + f("shj") + f("bnlj") + f("cartesian") == 0 &&
        f("partial_agg") >= 2 && f("exchange") <= 2 && f("global_window") == 0),
    Rule("llm_dedup_jaccard_prefix", "broadcast-sized token rows: the pairs are a local " +
      "relation, no join",
      f => f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    // the Spark path at -1, where no join can broadcast: the two df
    // joins (one per prefix side), the prefix-token self-join and both
    // verify joins stay equi-keyed
    Rule("llm_dedup_jaccard_prefix", "prefix-token self-join and verify joins equi-keyed, never cartesian",
      f => f("cartesian") + f("bnlj") == 0 && f("bhj") + f("smj") + f("shj") >= 5,
      sparkPath = true),
    Rule("op_cooccurrence", "pair top-k via TakeOrderedAndProject; only the 1-row total is nested-loop-broadcast",
      f => f("topk") >= 1 && f("cartesian") == 0 && f("bnlj") <= 1),
    Rule("op_drift_check", "both snapshot aggregations map-side combined; ts filters pushed to the scan",
      f => f("partial_agg") >= 4 && f("pushed_filters") >= 2),
    Rule("llm_text_top_tokens_sketch", "exact heavy-hitter set map-side combined; only 1-row " +
      "sketch/total frames broadcast (bnlj), never a shuffle join",
      f => f("partial_agg") >= 4 && f("bnlj") <= 2 &&
        f("cartesian") + f("smj") + f("shj") == 0),
    Rule("llm_embedding_pairs_ml", "gate branches read checkpointed pair frames; the bounded " +
      "N²/2 id-pair join and 1-row gate frames are the only nested-loop broadcasts",
      f => f("cartesian") == 0 && f("bnlj") <= 3 && f("bhj") >= 1),
    Rule("llm_dedup_minhash_ml", "prefix-filtered verify joins equi-keyed; only 1-row gate " +
      "frames nested-loop-broadcast, never a cartesian",
      f => f("cartesian") == 0 && f("bnlj") <= 3 && f("bhj") >= 1),
    Rule("llm_ann_lsh_topk", "bucket join equi-keyed + exact gate's tiny query side broadcast; " +
      "id filters pushed on both paths",
      f => f("cartesian") == 0 && f("bnlj") <= 1 && f("bhj") >= 2 &&
        f("pushed_filters") >= 4),
    Rule("op_dialect_teradata", "SEL TOP rewrite yields TakeOrderedAndProject; keyword-comparator " +
      "WHERE pushed to the scan",
      f => f("topk") >= 1 && f("pushed_filters") >= 1),
    Rule("op_dialect_teradata_qualify", "QUALIFY rewrite keeps the window partitioned (one keyed " +
      "shuffle + output sort), no join shapes",
      f => f("exchange") <= 2 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_tableau", "IF-block/IIF/date rewrites stay scalar: pushed orderkey filter, " +
      "the canonical 3-exchange COUNTD shape (partial/distinct/output), no join shapes, no window " +
      "(date/string min-max buffers plan as SortAggregate, so partial_agg is not counted here)",
      f => f("pushed_filters") >= 1 && f("exchange") <= 3 &&
        f("global_window") == 0 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_snowflake_obj", "per-row name/JSON rewrites: pushed filter, one output-sort " +
      "exchange, no aggregates beyond the scan, no joins",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_bigquery_fns", "SAFE_/INTERVAL/sequence rewrites stay per-row: pushed filter, " +
      "one output-sort exchange, no joins",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_trino_datetime", "%-code translation stays per-row: pushed filter, one " +
      "output-sort exchange, no joins, no window",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 && f("global_window") == 0 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_postgres_agg", "listagg WITHIN GROUP keeps partial aggregation + pushed filter, " +
      "no joins",
      f => f("pushed_filters") >= 1 && f("exchange") <= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_mysql_daynames", "name extractions stay per-row: pushed filter, one output-sort " +
      "exchange, no joins",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_oracle_fetch", "OFFSET…FETCH rewrite keeps the limited-sort shape (no full " +
      "global sort materialization beyond the paging), pushed status filter, no joins",
      f => f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_clickhouse_fmt", "datetime formats stay per-row: pushed filter, one " +
      "output-sort exchange, no joins",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_sqlite_date", "modifier folds stay per-row: pushed filter, one output-sort " +
      "exchange, no joins",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_exasol", "date-arithmetic rewrites stay per-row: pushed filter, one " +
      "output-sort exchange, no joins",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_druid", "TIME_* rewrites stay per-row: pushed filter, one output-sort " +
      "exchange, no joins",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_singlestore", "GROUP_CONCAT path keeps partial aggregation and the pushed " +
      "user filter; no joins",
      f => f("pushed_filters") >= 1 && f("partial_agg") >= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_bitmap_distinct", "both bitmap stages map-side combined; the shuffle carries " +
      "(group, bucket) bitmap rows, no expand, no join",
      f => f("partial_agg") >= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_url_functions", "parse_url stays per-row inside the scan stage: one output-sort " +
      "exchange, no joins",
      f => f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("llm_dsir_weights", "token counts map-side combined; totals broadcast (1-row NL); the " +
      "ratio join is equi-keyed, never cartesian",
      f => f("partial_agg") >= 2 && f("bnlj") <= 1 && f("cartesian") == 0 &&
        f("bhj") + f("smj") + f("shj") >= 1),
    Rule("llm_retrieval_rrf", "fusion joins are equi-keyed (query, doc) — never cartesian; " +
      "legs keep map-side combine",
      f => f("partial_agg") >= 2 && f("cartesian") == 0),
    Rule("llm_dedup_threshold_sweep", "one pair list feeds the sweep: threshold explode is " +
      "per-row, aggregates map-side combined, no cartesian",
      f => f("partial_agg") >= 2 && f("cartesian") == 0),
    Rule("op_regex_functions", "regex family stays per-row inside the scan stage: one " +
      "output-sort exchange, no joins",
      f => f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_agg_argminmax", "arg-extrema/conditional aggregates map-side combined " +
      "(constant-size partial state), no joins",
      f => f("partial_agg") >= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_bitwise_functions", "bit aggregates map-side combined over per-row codegen " +
      "scalars, no joins",
      f => f("partial_agg") >= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_decimal_exact", "decimal sums map-side combined, no joins",
      f => f("partial_agg") >= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_join_dpp", "the fact scan carries a dynamicpruningexpression partition " +
      "filter (runtime dim-driven pruning), the dim broadcasts, never cartesian",
      f => f("dpp") >= 1 && f("bhj") >= 1 && f("cartesian") + f("bnlj") == 0),
    // r19: both profile tiers split string min/max out of their
    // fixed-width aggregate pass (see op_profile_table), so each tier
    // carries one benign 1-row broadcast cross join (bnlj ≤ 2 total) and
    // the HLL pass now plans as vectorized HashAggregate — pinned floor
    // partial_agg ≥ 6 (approx pair + exact distinct-Expand pair ×2).
    Rule("op_profile_table_approx", "the band join is a broadcast equi-join on " +
      "column_name over two 4-row frames — never cartesian; both tiers' " +
      "min/max splits add one 1-row broadcast cross join each",
      f => f("bhj") >= 1 && f("partial_agg") >= 6 &&
        f("cartesian") == 0 && f("bnlj") <= 2 && f("sort") <= 1),
    Rule("llm_corpus_datacard", "both data-card aggregations map-side combined; the " +
      "(source, md5) pre-group bounds distinct state — no joins, no windows",
      f => f("partial_agg") >= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("llm_filter_funnel", "one conditional-aggregation pass (map-side combined), " +
      "4-row explode off the aggregate — no joins, no per-doc shuffle",
      f => f("partial_agg") >= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_string_functions2", "string family stays per-row inside the scan stage: one " +
      "output-sort exchange, no joins",
      f => f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_date_functions2", "date family per-row; ORDER BY+LIMIT plans as top-k " +
      "(no global sort exchange), no joins",
      f => f("topk") >= 1 && f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    // r14 additions
    Rule("stream_tokenizer_fertility", "incremental merge path: slice scans + per-language " +
      "sums only — no join shapes, map-side partials on every slice",
      f => f("partial_agg") >= 6 && f("exchange") <= 4 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_tsql_unpivot", "native UNPIVOT stays a per-row expand: pushed key filter, " +
      "one output-sort exchange, no joins",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_clickhouse_limit_by_offset", "offset LIMIT BY keeps the windowed top-k shape " +
      "(WindowGroupLimit prunes to TakeOrdered), no joins",
      f => f("topk") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_duckdb_array_agg", "ordered array_agg rewrite keeps partial aggregation and " +
      "the pushed key filter, no joins",
      f => f("partial_agg") >= 2 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_snowflake_flatten_object", "OBJECT-mode flatten is a per-row map explode: " +
      "pushed key filter, one output-sort exchange, no joins",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_pg_fetch_ties", "WITH TIES rank filter optimized to a per-partition " +
      "WindowGroupLimit pre-prune (the property that makes the global rank scale-safe); no joins",
      f => f("wgl") >= 1 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_pg_fetch_ties_nulls", "nullable-key WITH TIES keeps the WindowGroupLimit " +
      "pre-prune; no joins",
      f => f("wgl") >= 1 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_tsql_top_ties", "WITH TIES rank filter optimized to a per-partition " +
      "WindowGroupLimit pre-prune; no joins",
      f => f("wgl") >= 1 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_tsql_top_percent", "TOP PERCENT runs the two-stage scale plan (r16): " +
      "approx_percentile cutoff pre-filters BELOW the exact rank window (pcut in the plan), " +
      "the one-row stats side joins by broadcast, and the key filter stays pushed",
      f => f("pushed_filters") >= 1 && f("pcut") >= 1 && f("bnlj") >= 1 &&
        f("cartesian") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_oracle_fetch_percent", "FETCH PERCENT runs the two-stage scale plan (r16): " +
      "approx_percentile cutoff pre-filters BELOW the exact rank window (pcut in the plan), " +
      "the one-row stats side joins by broadcast, and the key filter stays pushed — " +
      "the r18 OFFSET leg takes the same plan (pcut per leg)",
      f => f("pushed_filters") >= 2 && f("pcut") >= 2 && f("bnlj") >= 2 &&
        f("cartesian") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_oracle_fetch_percent_ties_offset", "OFFSET+PERCENT TIES over a string " +
      "key pins the LEGACY fallback: no pcut prefilter (non-sketchable key), pushed key " +
      "filter, no joins of any kind",
      f => f("pushed_filters") >= 1 && f("pcut") == 0 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_tsql_top_ties_subquery", "subquery-level WITH TIES keeps the " +
      "WindowGroupLimit pre-prune and the pushed key filter; no joins",
      f => f("wgl") >= 1 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_snow_qualify_distinct", "QUALIFY-before-DISTINCT keeps the keyed " +
      "(partitioned) window with its WindowGroupLimit pre-prune, the distinct map-side " +
      "combined, and the key filter pushed; no joins",
      f => f("wgl") >= 1 && f("global_window") == 0 && f("partial_agg") >= 2 &&
        f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_pg_setop_ties", "set-op WITH TIES ranks the dedup-collapsed UNION " +
      "output (map-side-combined) under a WindowGroupLimit pre-prune, with both arms' " +
      "key filters pushed; no joins",
      f => f("wgl") >= 1 && f("partial_agg") >= 2 && f("pushed_filters") >= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_oracle_setop_percent", "set-op FETCH PERCENT runs the two-stage " +
      "scale plan: approx_percentile cutoff pre-filters BELOW the exact rank window " +
      "(pcut), the one-row stats side joins by broadcast, both arms' key filters pushed",
      f => f("pushed_filters") >= 2 && f("pcut") >= 1 && f("bnlj") >= 1 &&
        f("cartesian") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_tsql_distinct_top_percent", "DISTINCT TOP PERCENT runs the " +
      "two-stage scale plan over the distinct subquery: approx_percentile cutoff " +
      "pre-filters BELOW the exact rank window (pcut), the one-row stats side joins " +
      "by broadcast, the distinct aggregates map-side combine, key filter pushed; " +
      "static budget capped at the two textual distinct references + one stats pair " +
      "(at runtime AQE reuses the distinct shuffle — PlanGateSpec pins ReusedExchange)",
      f => f("pushed_filters") >= 1 && f("pcut") >= 1 && f("bnlj") >= 1 &&
        f("partial_agg") >= 2 && f("partial_agg") <= 6 &&
        f("cartesian") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_teradata_top_ties_qualify", "QUALIFY-then-TOP keeps the keyed " +
      "qualify windows (WindowGroupLimit pre-pruned) below the rank, pushed key " +
      "filters on both legs, no joins",
      f => f("wgl") >= 2 && f("pushed_filters") >= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_trino_unnest_zip", "multi-array UNNEST zip stays a per-row generate " +
      "(inline/transform in codegen): pushed key filter, one output-sort exchange, no joins",
      f => f("pushed_filters") >= 1 && f("exchange") <= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_exclude_replace", "combined EXCLUDE+REPLACE expands to a named " +
      "in-position projection over the single scan: the trailing ORDER BY+LIMIT " +
      "plans as a top-k — no joins, no windows, no extra shuffle",
      f => f("topk") >= 1 && f("global_window") == 0 && f("exchange") == 0 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_pg_unnest", "Postgres FROM-clause UNNEST stays per-row generates " +
      "on every leg (explode / ordinality inline / zip inline): all three legs' key " +
      "filters pushed, one output-sort exchange over the union, no joins, no windows",
      f => f("pushed_filters") >= 3 && f("exchange") <= 1 && f("global_window") == 0 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_clickhouse_limit_by_distinct", "LIMIT BY under DISTINCT ranks the " +
      "map-side-combined distinct output under a keyed (partitioned) window with its " +
      "WindowGroupLimit pre-prune; the trailing LIMIT plans as top-k; no joins",
      f => f("wgl") >= 1 && f("global_window") == 0 && f("partial_agg") >= 2 &&
        f("topk") >= 1 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_tsql_setop_top", "arm-scoped TOPs stay per-arm LIMITs over pushed " +
      "scans (no window, no global sort of the arms); the Teradata MINUS leg's dedup " +
      "anti-join broadcasts — no shuffle joins, no cartesian",
      f => f("pushed_filters") >= 4 && f("global_window") == 0 &&
        f("cartesian") + f("bnlj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_tsql_setop_top_percent", "arm-scoped TOP PERCENT: every arm's key " +
      "filter is pushed and the construct stays join-free — the per-arm count/rank " +
      "windows are its semantics (allowlisted), fed by pushed-filter slices only",
      f => f("pushed_filters") >= 3 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_pg_fetch_ties_offset", "OFFSET+TIES keeps the pushed key filter and stays " +
      "join-free (static rank bound + cutoff max are the construct's semantics)",
      f => f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_pg_fetch_ties_row", "count-omitted WITH TIES (rank <= 1) keeps the " +
      "WindowGroupLimit pre-prune; no joins",
      f => f("wgl") >= 1 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_pg_fetch_ties_star", "star-expanded WITH TIES keeps the WindowGroupLimit " +
      "pre-prune and the pushed key filter; no joins",
      f => f("wgl") >= 1 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_pg_distinct_ties", "DISTINCT + WITH TIES: map-side-combined distinct " +
      "aggregation below the WindowGroupLimit-pre-pruned rank; no joins",
      f => f("wgl") >= 1 && f("partial_agg") >= 2 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_duckdb_order_nulls", "null-pinned QUALIFY window stays keyed with a " +
      "per-key WindowGroupLimit pre-prune, and the pinned outer LIMIT is a top-k; no joins",
      f => f("wgl") >= 1 && f("global_window") == 0 && f("topk") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_pg_window_nulls", "null-pinned ranking window stays keyed with a " +
      "per-key WindowGroupLimit pre-prune, and the pinned outer LIMIT is a top-k; no joins",
      f => f("wgl") >= 1 && f("global_window") == 0 && f("topk") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_trino_fetch_paging", "Trino WITH TIES keeps the WindowGroupLimit " +
      "pre-prune and pushed key filters; no joins",
      f => f("wgl") >= 1 && f("pushed_filters") >= 2 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_comment_order_nulls", "comment-normalized null pins keep the keyed " +
      "(partitioned) ranking window with its WindowGroupLimit pre-prune and the pinned " +
      "LIMIT leg a top-k; no joins",
      f => f("wgl") >= 1 && f("global_window") == 0 && f("topk") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_pg_distinct_on", "Postgres-wired DISTINCT ON keeps the keyed (partitioned) " +
      "row_number — per-key WindowGroupLimit pre-prune, pushed key filter, no joins",
      f => f("wgl") >= 1 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_paging_zero", "zero-count paging short-circuits to LIMIT 0 — " +
      "no window, no rank, no join in any of the five legs",
      f => f("global_window") == 0 && f("wgl") == 0 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_pg_filter_window", "windowed FILTER keeps the pushed key filter and " +
      "stays join-free (transform composes over the window, no extra shuffle)",
      f => f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_snowflake_array_agg", "WITHIN GROUP rewrite keeps partial aggregation " +
      "and the pushed key filter, no joins",
      f => f("partial_agg") >= 2 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_trino_array_agg", "inline-ordered array_agg keeps partial aggregation " +
      "and the pushed key filter, no joins",
      f => f("partial_agg") >= 2 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0),
    Rule("op_dialect_bigquery_array_agg", "IGNORE-NULLS ordered array_agg keeps partial " +
      "aggregation and the pushed key filter, no joins",
      f => f("partial_agg") >= 2 && f("pushed_filters") >= 1 &&
        f("cartesian") + f("bnlj") + f("bhj") + f("smj") + f("shj") == 0))

  /** Build every driver query's executed-plan string ONCE. Planning is
    * cheap for most queries, but the gate queries that eagerly
    * materialize (MLlib fits, N² pair joins) or stage files run real
    * work just to construct their DataFrame — so the report, the rule
    * audit, and the window lint must all share one planning pass instead
    * of each re-invoking the query builders. Each query's DataFrame is
    * built through `build(name, builder)` (a caller may wrap it, say to
    * count its jobs), then a query with a `sparkPath` rule is built once
    * more, and planned, at threshold `-1`, under its name plus
    * [[SparkPathSuffix]].
    */
  private[graft] def planStrings(spark: SparkSession, sfDir: String,
      build: (String, () => DataFrame) => DataFrame = (_, b) => b())
      : Seq[(String, Either[String, String])] = {
    def plan(df: => DataFrame): Either[String, String] =
      try Right(df.queryExecution.executedPlan.toString)
      catch { case e: Throwable => Left(e.getMessage.take(120)) }
    val sparkPaths = rules.filter(_.sparkPath).map(_.query).toSet
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      (name -> plan(build(name, () => fn(spark, sfDir)))) +:
        Option.when(sparkPaths(name))(name + SparkPathSuffix -> ops.Tuning.withSqlConf(
          spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")(plan(fn(spark, sfDir)))).toSeq
    }
  }

  /** Run every rule against its query's pre-built physical plan; returns
    * the violations (empty = gate passes).
    */
  def audit(plans: Seq[(String, Either[String, String])]): Seq[String] = {
    val byName = plans.toMap
    rules.groupBy(r => if (r.sparkPath) r.query + SparkPathSuffix else r.query)
        .toSeq.sortBy(_._1).flatMap { case (name, rs) =>
      byName.get(name) match {
        case None => Seq(s"$name: audit rule references an unknown query")
        case Some(Left(err)) => Seq(s"$name: ERROR $err")
        case Some(Right(plan)) =>
          val f = planFeatures(plan).withDefaultValue(0)
          val shown = f.filter(_._2 > 0).toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          rs.collect { case r if !r.check(f) =>
            s"$name: VIOLATION '${r.desc}' (plan: $shown)"
          }
      }
    }
  }

  def audit(spark: SparkSession, sfDir: String): Seq[String] =
    audit(planStrings(spark, sfDir))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val plans = planStrings(Session.getOrCreate(), sfDir)
    plans.foreach {
      case (name, Left(err)) => println(s"PLAN $name :: ERROR ${err.take(80)}")
      case (name, Right(plan)) =>
        val features = planFeatures(plan)
          .filter(_._2 > 0).toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        println(s"PLAN $name :: $features")
    }
    val violations = audit(plans) ++ windowLint(plans)
    violations.foreach(v => println(s"PLANGATE $v"))
    println(s"PLANGATE ${if (violations.isEmpty) "OK" else s"${violations.size} violation(s)"}")
    if (violations.nonEmpty) sys.exit(1)
  }
}
