package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, StructField, StructType}

/** Relational operator library — the Spark-first re-expression of the
  * reference's dataflow operators (SURVEY.md §2.1) and expression surface
  * (§2.3–2.6). Where the reference interprets plan steps over pandas
  * (reference: xorbits_sql/executor.py:210-516), every operator here is a
  * declarative DataFrame transformation, so Catalyst owns pushdown, join
  * strategy, partial aggregation and codegen — the properties that make the
  * same code viable on a 1000-executor cluster.
  *
  * The pieces the reference left broken are implemented correctly here:
  * full outer join (executor.py:457-461 silently degrades to inner),
  * set operations (executor.py:513-516 raises), per-key null ordering
  * (executor.py:499-502 requires a single global setting).
  */
object Relational {

  /** Exact money representation: floor(x*100) cents as BIGINT. Sums of
    * cents are associative/commutative exactly, so distributed partial
    * aggregation (HashAggregate partial/final) cannot change the result —
    * unlike raw double sums, whose value depends on reduction order.
    */
  def cents(c: Column): Column = floor(c * lit(100)).cast("long")

  /** Exact-cents sum reported as double (one deterministic final division). */
  def moneySum(c: Column, alias: String): Column =
    (sum(cents(c)).cast("double") / 100).as(alias)

  /** Exact 4-decimal average over non-null inputs (divisor counts only
    * non-null values of `c`, matching SQL AVG).
    */
  def exactAvg(c: Column, alias: String): Column =
    (sum(floor(c * lit(10000)).cast("long")).cast("double") / 10000 / count(c)).as(alias)

  private def requireNoWorkingCols(df: DataFrame, op: String, cols: String*): Unit = {
    val clash = df.columns.toSet.intersect(cols.toSet)
    require(clash.isEmpty,
      s"$op uses internal working column(s) ${clash.mkString(", ")}; rename them in the input")
  }

  /** Top-k with a total order — Spark plans this as TakeOrderedAndProject
    * (per-partition heap + driver merge of k rows), no global sort of the
    * full data; the scalable top-k (reference sort+head: executor.py:508-509).
    */
  def topK(df: DataFrame, k: Int, keys: Column*): DataFrame =
    df.orderBy(keys: _*).limit(k)

  /** EXISTS — native left-semi join (the reference only ever sees the
    * sqlglot rewrite into LEFT JOIN + IS NOT NULL, SURVEY.md §2.5).
    */
  def semiJoin(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "left_semi")

  /** NOT EXISTS — native left-anti join. */
  def antiJoin(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "left_anti")

  /** SQL UNION (set semantics). DataFrame.union is bag (UNION ALL);
    * SQL UNION deduplicates. Reference never implemented either
    * (executor.py:513-516).
    */
  def union(l: DataFrame, r: DataFrame): DataFrame = l.union(r).distinct()
  def unionAll(l: DataFrame, r: DataFrame): DataFrame = l.union(r)
  def intersect(l: DataFrame, r: DataFrame): DataFrame = l.intersect(r)
  def intersectAll(l: DataFrame, r: DataFrame): DataFrame = l.intersectAll(r)
  def except(l: DataFrame, r: DataFrame): DataFrame = l.except(r)
  def exceptAll(l: DataFrame, r: DataFrame): DataFrame = l.exceptAll(r)

  /** Sample variance/stddev from exact integer moments: inputs are scaled to
    * integers (here: cents), so s1=Σc and s2=Σc² are exact BIGINTs and the
    * final double formula is evaluated identically by any engine — unlike
    * native streaming-moment stddev, which is order-dependent in the last
    * bits. `scale` is the integer scaling applied to the input (100 ⇒
    * descale variance by 100²).
    */
  /** Skew-resistant equi join: explode the (small) right side into
    * `saltBuckets` copies and scatter the left side's hot keys across the
    * buckets with a random-but-deterministic salt, so one hot key spreads
    * over `saltBuckets` reducers instead of melting a single one. Result
    * is row-identical to `left.join(right, leftKey === rightKey)`.
    *
    * At 100 TB this is the standard fallback when AQE's skew-join split
    * isn't available (e.g. the skew is in the build side of a broadcast
    * that is too large to broadcast).
    */
  def saltedJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, saltBuckets: Int = 8): DataFrame = {
    requireNoWorkingCols(left, "saltedJoin", "__salt")
    requireNoWorkingCols(right, "saltedJoin", "__salt")
    val saltedLeft = left.withColumn("__salt",
      pmod(hash(col(leftKey), monotonically_increasing_id()), lit(saltBuckets)))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedLeft.join(saltedRight,
        saltedLeft(leftKey) === saltedRight(rightKey) &&
          saltedLeft("__salt") === saltedRight("__salt"))
      .drop("__salt")
  }

  /** Backward AS-OF join: each left row picks the latest right row with
    * `right.ts <= left.ts` for the same key (NULLs when none) — the
    * time-series join Spark lacks as a native operator.
    *
    * Composed from built-ins per the extension preference order (compose
    * before custom strategy): tag both sides, union, and carry right-side
    * payloads forward with `last(ignoreNulls)` over one (key, ts, side)
    * window. Exactly ONE shuffle (the window partition on key) — the
    * merge-join shape that scales, vs a per-row subquery or a range
    * cross-join. Equal timestamps match (>=); the right side must be
    * unique per (key, ts) — pre-aggregate it if not (see the asof driver
    * query for the max_by pattern).
    */
  def asOfJoin(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireNoWorkingCols(left, "asOfJoin", "__ts", "__side", "__r")
    requireNoWorkingCols(right, "asOfJoin", "__ts", "__side", "__r")
    val rightPayload = right.columns.filterNot(c => c == key || c == rightTs).toSeq
    // the unpack step writes each right payload column by NAME — a left
    // column with the same name would be silently overwritten (and the
    // native plans.AsOfJoin twin keeps both, so the two implementations
    // would diverge). Refuse up front; rename the collision on either side.
    val collisions = rightPayload.filter(left.columns.contains)
    require(collisions.isEmpty,
      s"asOfJoin: right payload column(s) ${collisions.mkString(", ")} collide with " +
        "left columns and would overwrite them — rename one side")
    // payloads travel as ONE struct so the fill always takes the complete
    // latest right row — per-column fills could mix values from different
    // rows and would skip a genuinely-NULL field in the as-of row
    val leftTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
    val rightTagged = right
      .select(col(key), col(rightTs).as("__ts"),
        struct(rightPayload.map(col): _*).as("__r"))
      .withColumn("__side", lit(0))
    val u = leftTagged.unionByName(rightTagged, allowMissingColumns = true)
    // right rows (side 0) sort before left rows at equal ts → ties match
    val w = Window.partitionBy(col(key)).orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = u.withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
    val unpacked = rightPayload.foldLeft(filled) { (df, c) =>
      df.withColumn(c, col("__r").getField(c))
    }
    unpacked.filter(col("__side") === 1).drop("__ts", "__side", "__r")
  }

  /** Range (interval) join: left rows matched to right rows whose
    * [lo, hi] interval contains the left value. Instead of the
    * BroadcastNestedLoopJoin a naive non-equi join plans, each left row
    * gets ONE bucket id and each right interval explodes into the buckets
    * it spans — the join becomes an equi join on bucket + residual filter,
    * shuffling on bucket keys. Pick `bucketWidth` near the typical
    * interval length: cost is |left| + Σ(interval span / width) rows.
    */
  def rangeJoin(left: DataFrame, leftVal: String,
      right: DataFrame, lo: String, hi: String, bucketWidth: Double): DataFrame = {
    requireNoWorkingCols(left, "rangeJoin", "__b")
    requireNoWorkingCols(right, "rangeJoin", "__b")
    val lb = left.withColumn("__b", floor(col(leftVal) / bucketWidth).cast("long"))
    val rb = right.withColumn("__b",
      explode(expr(s"sequence(cast(floor($lo / $bucketWidth) as bigint), " +
        s"cast(floor($hi / $bucketWidth) as bigint))")))
    lb.join(rb, Seq("__b"))
      .filter(col(leftVal) >= col(lo) && col(leftVal) <= col(hi))
      .drop("__b")
  }

  /** MERGE/upsert (SCD type 1): source rows replace target rows that share
    * a key; unmatched target rows survive; source-only keys are inserts.
    * Expressed as `source ∪ (target ▷ source)` — one native left-anti join
    * plus a by-name union, NOT a full outer join with per-column coalesce:
    * the anti join shuffles (or broadcasts, when the source is a small
    * delta — the common case, and Catalyst picks it by size) half the
    * payload a full outer would, and whole rows are replaced so no
    * column-level merge logic exists to get wrong. Requires identical
    * column sets; `keys` must be unique in `source` (last-writer semantics
    * inside a batch are a pipeline bug, not an operator feature).
    */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    require(target.columns.sorted.sameElements(source.columns.sorted),
      s"upsert requires identical column sets; target=${target.columns.mkString(",")} " +
        s"source=${source.columns.mkString(",")}")
    source.unionByName(target.join(source, keys, "left_anti"))
  }

  /** Opt-in loud precondition check: every `keys` combination appears at
    * most once in `df`. One count-over-window pass (a full shuffle on the
    * keys — which is why callers opt in rather than paying it on every
    * batch); the first violating row fails the job with a `raise_error`
    * naming the operator and the offending key, instead of letting the
    * duplicate silently corrupt the merged output downstream.
    */
  private def requireUniqueKeys(df: DataFrame, keys: Seq[String],
      what: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireNoWorkingCols(df, what, "__kc")
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__kc", count(lit(1)).over(w))
      .filter(
        when(col("__kc") > 1,
          raise_error(concat(lit(s"$what: duplicate key ("),
            concat_ws(",", keys.map(k => col(k).cast("string")): _*),
            lit(")"))).cast("boolean"))
          .otherwise(lit(true)))
      .drop("__kc")
  }

  /** CDC apply — a change batch with an `op` column (`I`/`U`/`D`) folded
    * into the target: deletes drop their keys, updates replace whole
    * rows, inserts add new keys. The same delta-broadcast shape as
    * [[upsert]] (one anti join against the touched keys + a union of the
    * surviving changes); at 100 TB the target is scanned once and the
    * (small) change batch broadcasts. Last-writer-wins INSIDE a batch is
    * NOT defined: `keys` must be unique in `changes` (collapse a multi-op
    * stream per key upstream — e.g. keep-latest by version — before
    * applying). By default that precondition is the CALLER'S
    * responsibility (the operator would silently emit one output row per
    * duplicate change row); pass `validate = true` to pay one
    * count-over-window pass on the (small) change batch and fail loudly
    * on the first duplicate key instead.
    */
  def applyCdc(target: DataFrame, changes: DataFrame, keys: Seq[String],
      opCol: String = "op", validate: Boolean = false): DataFrame = {
    require(changes.columns.contains(opCol), s"changes must carry '$opCol'")
    require(target.columns.sorted.sameElements(
      changes.columns.filterNot(_ == opCol).sorted),
      "changes must carry exactly the target's columns plus the op column")
    val chg = if (validate) requireUniqueKeys(changes, keys, "applyCdc changes")
              else changes
    val touched = chg.select(keys.map(col): _*)
    val survivors = target.join(touched, keys, "left_anti")
    // an op OUTSIDE {I,U,D} must fail loudly: its key is anti-joined out
    // of the target but the row doesn't survive the I/U filter — i.e. an
    // op typo (lowercase 'u', 'UPDATE', …) would silently DELETE the row
    val applied = chg
      .filter(when(col(opCol).isin("I", "U", "D"), col(opCol).isin("I", "U"))
        .otherwise(raise_error(concat(
          lit(s"applyCdc: unknown op '"), col(opCol), lit("' — expected I, U or D")))))
      .drop(opCol)
    survivors.unionByName(applied)
  }

  /** MERGE (SCD type 2): history-preserving upsert into a versioned
    * dimension. The target carries `valid_from`/`valid_to`/`is_current`;
    * each source row that CHANGES a tracked attribute closes the current
    * version (`valid_to := asOf`, `is_current := false`) and opens a new
    * one; unchanged matches and historical rows pass through untouched;
    * source-only keys insert as new current rows.
    *
    * Three branches of one left/anti join pair, unioned by name — the
    * same delta-broadcast shape as [[upsert]]: the change batch (and
    * every frame derived down to it) carries an explicit `broadcast()`
    * hint into each branch, so the only full pass over the (100 TB)
    * target is the one column-append scan — no window, no full-outer
    * coalesce, and no stats-dependent sort-merge fallback. `keys` must be unique in `source`, and
    * `target` must hold at most one current row per key (the operator's
    * own output invariant, so it composes with itself day over day).
    * Both preconditions default to the CALLER'S responsibility —
    * violations silently fan out duplicate versions; `validate = true`
    * buys a loud first-duplicate failure for one extra keyed window pass
    * over the source and the current slice of the target.
    */
  def scd2Merge(target: DataFrame, source: DataFrame, keys: Seq[String],
      tracked: Seq[String], asOf: Column, validate: Boolean = false): DataFrame = {
    require(tracked.nonEmpty, "tracked attribute list must be non-empty")
    val meta = Seq("valid_from", "valid_to", "is_current")
    require(meta.forall(target.columns.contains),
      s"target must carry ${meta.mkString("/")} columns")
    require(source.columns.sorted.sameElements(
      target.columns.filterNot(meta.contains).sorted),
      "source must carry exactly the target's business columns")
    val changed = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val src = if (validate) requireUniqueKeys(source, keys, "scd2Merge source")
              else source
    val current0 = target.filter(col("is_current"))
    val current =
      if (validate) requireUniqueKeys(current0, keys, "scd2Merge current target")
      else current0
    val history = target.filter(!col("is_current"))
    // current rows whose tracked attrs differ from their source row
    val diff = tracked.map(c => !(col(s"t.$c") <=> col(s"s.$c"))).reduce(_ || _)
    // Every join below broadcasts a delta-derived side EXPLICITLY — the
    // delta (and anything joined down to it) is small by construction,
    // while `current` is table-sized; leaving the choice to size stats
    // made the plan flip to sort-merge when staged-file estimates drifted.
    val toClose = current.as("t").join(broadcast(src).as("s"), changed)
      .filter(diff).select(col("t.*"))
    val closed = toClose
      .withColumn("valid_to", asOf)
      .withColumn("is_current", lit(false))
    val untouchedCurrent = current.join(
      broadcast(toClose.select(keys.map(col): _*)), keys, "left_anti")
    val opened = src.as("s").join(broadcast(toClose).as("t"), changed, "left_semi")
      .withColumn("valid_from", asOf)
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    // `src ANTI current` cannot broadcast-hash (the small side is on the
    // left), so restrict current to the delta's keys first — a broadcast
    // semi-join — and anti-join against that |delta|-bounded key set.
    val currentKeysHit = current
      .join(broadcast(src.select(keys.map(col): _*)), keys, "left_semi")
      .select(keys.map(col): _*)
    val inserted = src.join(broadcast(currentKeysHit), keys, "left_anti")
      .withColumn("valid_from", asOf)
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    history.unionByName(untouchedCurrent).unionByName(closed)
      .unionByName(opened).unionByName(inserted)
  }

  /** Table profile — the data-ops report every ingestion job runs: per
    * column, null count, EXACT distinct count, and min/max rendered as
    * strings, from one `agg` call. Honest cost note: N exact
    * countDistinct aggregates in one agg make Catalyst plan an Expand
    * that multiplies every scanned row ~(N+1)× and shuffles each
    * column's distinct values — the EXACT tier's price, fine for
    * ingestion-sized tables and the oracle gate. At corpus scale swap
    * `countDistinct` for `approx_count_distinct` (same shape, constant
    * sketch per column, no per-value shuffle) — the same exact-gate /
    * sketch-scale-path split as [[tableChecksum]]'s sibling operators.
    * Doubles render via the caller's projection rules if cross-engine
    * comparison matters (see [[tableChecksum]]'s contract).
    */
  def profile(df: DataFrame): DataFrame = {
    // r19 (guide §1.2/§2): min/max over string(-cast) columns have
    // variable-width buffers, which HashAggregate cannot hold — mixed
    // into the same agg as the exact countDistincts they forced the
    // WHOLE plan to SortAggregate, and the countDistinct Expand rewrite
    // then needed its (N+1)×-multiplied input SORTED on the full
    // (gid, value...) grouping key: two full sorts of 5× the table.
    // Split instead: the fixed-width pass (null counts + exact
    // distincts) keeps HashAggregate over the Expand — hash, no sort —
    // and the min/max pass is a global aggregate with NO grouping keys,
    // which SortAggregate executes WITHOUT any Sort in one streaming
    // scan. The two 1-row frames meet in a broadcast cross join. Cost:
    // one extra (column-pruned) scan; saved: both multi-gigarow sorts
    // at scale. Plan evidence: plans/r19/op_profile_table_{before,after}.
    val distinctAggs = df.columns.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__n_$c"),
        countDistinct(col(c)).as(s"__d_$c"))
    }
    val minmaxAggs = df.columns.flatMap { c =>
      Seq(
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(distinctAggs.head, distinctAggs.tail.toIndexedSeq: _*)
      .crossJoin(broadcast(df.agg(minmaxAggs.head, minmaxAggs.tail.toIndexedSeq: _*)))
    val stacked = df.columns.map { c =>
      s"struct('$c' AS column_name, `__n_$c` AS n_nulls, `__d_$c` AS n_distinct, " +
        s"`__min_$c` AS min_value, `__max_$c` AS max_value)"
    }.mkString(", ")
    one.select(expr(s"inline(array($stacked))"))
  }

  /** [[profile]]'s corpus-scale sibling: same per-column report with
    * `approx_count_distinct(rsd)` in place of exact `countDistinct` —
    * ONE aggregation pass with a constant-size HLL sketch per column,
    * no Expand multiplication and no per-value shuffle, so a 100 TB
    * table pays a single scan. The gate (`op_profile_table_approx`)
    * cross-checks every estimate against the exact count with a
    * tolerance boolean; production uses this tier and falls back to
    * [[profile]] only where exactness is contractual.
    */
  def profileApprox(df: DataFrame, rsd: Double = 0.02): DataFrame = {
    // r19: same fixed-width / variable-width split as [[profile]] — the
    // HLL sketches have fixed-width long-array buffers, so nulls +
    // approx distincts run as one vectorized HashAggregate pass instead
    // of the SortAggregate the string min/max used to force on them.
    val sketchAggs = df.columns.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__n_$c"),
        approx_count_distinct(col(c), rsd).as(s"__d_$c"))
    }
    val minmaxAggs = df.columns.flatMap { c =>
      Seq(
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(sketchAggs.head, sketchAggs.tail.toIndexedSeq: _*)
      .crossJoin(broadcast(df.agg(minmaxAggs.head, minmaxAggs.tail.toIndexedSeq: _*)))
    val stacked = df.columns.map { c =>
      s"struct('$c' AS column_name, `__n_$c` AS n_nulls, `__d_$c` AS n_distinct_approx, " +
        s"`__min_$c` AS min_value, `__max_$c` AS max_value)"
    }.mkString(", ")
    one.select(expr(s"inline(array($stacked))"))
  }

  /** Fuzzy string join, edit distance ≤ 1 — deletion-neighborhood
    * blocking (the SymSpell/SymmetricDelete idea): every string expands
    * to itself plus its |s| one-character-deletion variants; two strings
    * within edit distance 1 ALWAYS share a variant (equal, one is the
    * other's deletion, or both delete down to the same string at the
    * substitution position), so an equi-join on the variant finds every
    * candidate and an exact `levenshtein ≤ 1` filter removes the false
    * positives (distance-2 pairs like ab→b←bc can collide). The join
    * shuffles on variant hashes — cost |rows|·avg_len, NEVER the |L|×|R|
    * cross product a naive `levenshtein(a,b) <= 1` condition plans. This
    * is the entity-resolution join at corpus scale.
    */
  def fuzzyJoinEd1(left: DataFrame, right: DataFrame,
      leftCol: String, rightCol: String): DataFrame = {
    requireNoWorkingCols(left, "fuzzyJoinEd1", "__v")
    requireNoWorkingCols(right, "fuzzyJoinEd1", "__v")
    def variants(df: DataFrame, c: String) = df.withColumn("__v",
      explode(expr(
        s"""array_union(
           |  array($c),
           |  transform(sequence(1, length($c)),
           |            i -> concat(substring($c, 1, i - 1), substring($c, i + 1))))"""
          .stripMargin)))
    variants(left, leftCol).join(variants(right, rightCol), Seq("__v"))
      .drop("__v").distinct()
      .filter(levenshtein(col(leftCol), col(rightCol)) <= 1)
  }

  /** Order-independent table checksum — cross-engine data-integrity
    * fingerprint (verify a migration, a format conversion, or two engines'
    * copies of the same table without moving the data). Per row: the
    * first 15 hex digits (60 bits) of md5 over all columns, joined with a
    * U+0001 separator and a U+0000 NULL marker (so (a,NULL) never collides
    * with (a,'')); per table: `bit_xor` of the row hashes (order- and
    * partitioning-independent, overflow-free) plus a modular sum (catches
    * the duplicated-pair rows XOR cancels) and the row count. One
    * map-side-combined aggregate — a single scan at any scale, ~16 bytes
    * to the driver.
    *
    * Caller contract: columns must stringify identically on every engine
    * being compared — integers, strings, dates and timestamps do; raw
    * DOUBLEs do NOT (exponent formatting differs), so project them to
    * exact cents/BIGINT first.
    */
  def tableChecksum(df: DataFrame): DataFrame = {
    val keyed = df.withColumn("__rh",
      expr(("conv(substring(md5(concat_ws('\u0001', " +
        df.columns.map(c => s"coalesce(cast(`$c` as string), '\u0000NULL')")
          .mkString(", ") +
        ")), 1, 15), 16, 10)")).cast("long"))
    // the modular sum accumulates in DECIMAL(38,0) and reduces mod p at
    // the end: a raw BIGINT sum of ~1e9-magnitude residues overflows at
    // ~9.2e9 rows — far below the scale this fingerprint targets (the
    // DuckDB oracle's HUGEINT sum takes the same final % p)
    keyed.agg(
      count(lit(1)).as("n_rows"),
      expr("bit_xor(__rh)").as("xor_checksum"),
      pmod(sum((col("__rh") % 1000000007L).cast(DecimalType(38, 0))),
        lit(1000000007L)).cast("long").as("modsum_checksum"))
  }

  /** Bloom-prefiltered semi join — the big-⋈-big reduction for when the
    * filtering side is too large to broadcast but much smaller than the
    * probe side. Builds a bloom filter over `small`'s join keys with the
    * internal `BloomFilterAggregate` (the same machinery as Spark's
    * runtime row-level filtering, constructed explicitly), hands it to the
    * probe side as an uncorrelated scalar subquery (no `collect()`
    * anywhere — the driver relays one ~MB blob exactly as a broadcast
    * would), and drops non-candidate rows BEFORE the exact left-semi
    * join's shuffle. Result is identical to `big ⋉ small` — the bloom's
    * false positives are caught by the exact join; `expectedItems` only
    * tunes the false-positive rate and therefore how much shuffle the
    * prefilter saves (at 100 TB: the probe side's shuffle volume drops by
    * the selectivity of the semi join, the dominant cost of a big-big
    * semi join).
    */
  def bloomSemiJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, expectedItems: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // xxhash64 is type-sensitive (INT 5 and BIGINT 5 hash differently), so
    // both keys are cast to the type the exact join itself would coerce to
    // before hashing — otherwise the bloom prefilter would silently drop
    // true matches that the exact join would have kept.
    val bigT = big.schema(bigKey).dataType
    val smallT = small.schema(smallKey).dataType
    val keyT =
      if (bigT == smallT) bigT
      else GraftBridge.widerType(bigT, smallT).getOrElse(
        throw new IllegalArgumentException(
          s"bloomSemiJoin: incomparable key types $bigT vs $smallT"))
    val hashed = small.select(xxhash64(col(smallKey).cast(keyT)).as("__h"))
    val bloomAgg = GraftBridge.column(
      new BloomFilterAggregate(GraftBridge.expression(col("__h")), expectedItems)
        .toAggregateExpression())
    val bloomDf = hashed.agg(bloomAgg.as("__bloom"))
    val mightContain = GraftBridge.column(new BloomFilterMightContain(
      GraftBridge.expression(GraftBridge.scalarSubquery(bloomDf)),
      GraftBridge.expression(xxhash64(col(bigKey).cast(keyT)))))
    // alias both sides: with bigKey == smallKey (the common case) bare
    // col(...) references resolve to BOTH inputs and analysis fails with
    // AMBIGUOUS_REFERENCE
    big.filter(mightContain).as("__bsj_b")
      .join(small.as("__bsj_s"),
        col(s"__bsj_b.`$bigKey`") === col(s"__bsj_s.`$smallKey`"), "left_semi")
  }

  /** Connected components over an edge list: `(node, component)` with
    * `component` = the smallest node id reachable from `node`. Every node
    * of `nodes` (its first column) and every edge endpoint gets a row;
    * a node with no edge to another node is its own component.
    *
    * Two paths, chosen the way Spark chooses between a broadcast and a
    * shuffle join. One bounded collect ([[Tuning.broadcastRows]]) reads
    * the distinct undirected edge set (both directions of every edge,
    * self-loops included):
    *   - Driver path: when its row count times Catalyst's estimated row
    *     size is at or below `spark.sql.autoBroadcastJoinThreshold` (the
    *     test Spark applies before it ships a relation to every executor),
    *     union-find labels it on the driver (`driverLabels`) and the
    *     labels become a local relation. No loop or working cache runs.
    *   - Loop path: over the threshold, or with the threshold at `-1`, the
    *     distributed min-label loop below runs.
    * Both paths return the same rows, and both end in the same restore
    * join from the node universe to the labels (on the driver path
    * without `nodes`, the labels are the universe and need no join).
    *
    * The loop is min-label propagation with two alternating moves per
    * round:
    *   1. edge relaxation — `lbl(n) := min(lbl(n), min over neighbors m of
    *      lbl(m))`: one shuffle on the edge endpoint, correct at fixpoint
    *      (labels equal across every edge ⇒ constant per component, and the
    *      component's minimum keeps itself);
    *   2. pointer jumping — `lbl(n) := min(lbl(n), lbl(lbl(n)))`: halves
    *      label-tree depth, giving O(log longestChain) convergence instead
    *      of O(diameter) from relaxation alone.
    * Relaxation is what makes this CORRECT on arbitrary graphs: jumping
    * over min-neighbor pointers alone strands a node whose only neighbor
    * has a larger id than itself (the bridge node's information flows one
    * way) — the bug class a chain a–z, m–z with z largest exposes.
    *
    * Convergence is detected as a fixpoint of the full round. The diff
    * count doubles as the round's materialization action: it computes every
    * partition of the new label table INTO its cache before the previous
    * round's cache is released, so no round ever replays earlier rounds'
    * lineage. Each round's LOGICAL plan is also flattened to an O(1)
    * `LogicalRDD` over the cache ([[org.apache.spark.sql.GraftBridge.flattenPlan]]):
    * the round's self-joins reference the previous table several times, so
    * without flattening the plan tree grows ~4× per round and Spark OOMs
    * formatting it long before any data pressure. The rounds run in
    * [[Tuning.loop]], whose jobs carry "connectedComponents round k".
    * `maxRounds` bounds the loop path only; the driver path always
    * converges.
    *
    * The restore join to the node universe (the loop path, or `nodes` on
    * the driver path) is computed by [[Tuning.materialize]] (a reliable
    * checkpoint when the context has a checkpoint dir, a local one
    * otherwise); without `nodes` the driver path returns its local
    * relation as it is. Every working cache is dropped before returning,
    * normally or by exception — the caller holds the only retained storage
    * and releases it by dropping the result.
    *
    * At 100 TB: an edge set over the threshold takes the loop, where every
    * step is a key shuffle or a self-join on the label table — no
    * per-component state ever lands on one executor, and round count is
    * logarithmic in the longest chain, not the corpus size. The path
    * choice costs that loop one more evaluation of the edge input up to
    * the distinct's shuffle (the bounded collect); the loop itself
    * persists the edge input, so its closure and node universe share one
    * evaluation. The driver path never holds more than the threshold's
    * worth of edges, as a broadcast would.
    *
    * The loop runs over the EDGE-INDUCED subgraph only: a node with no
    * (non-self-loop) edge can never change its label, so the full node
    * universe — corpus-sized when `nodes` is the document table, vs a
    * pair-graph of surviving duplicate candidates — is left-joined back
    * exactly once after convergence (`coalesce(lbl, node)` labels the
    * untouched singletons). Every per-round shuffle is then sized by the
    * candidate-pair graph, not the corpus.
    *
    * Session conf: only the loop path writes it. While the loop runs
    * [[Tuning.loop]] sets
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` on the
    * CALLER's session and restores it after, so queries running
    * concurrently on that session see it too. The driver path reads the
    * session conf and writes none.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", nodes: Option[DataFrame] = None,
      maxRounds: Int = 30): DataFrame = {
    val e = edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
    // the node universe: the first column of `nodes` and the endpoints
    def universe(ends: DataFrame): DataFrame =
      nodes.fold(ends)(n => n.select(col(n.columns.head).as("node")).union(ends)).distinct()
    driverLabels(symmetric(e).distinct()) match {
      // the labels name every endpoint once: without `nodes` they are the
      // universe already
      case Some(labels) =>
        restoreUniverse(nodes.map(_ => universe(labels.select(col("node")))), labels)
      case None => labelLoop(e, universe, maxRounds)
    }
  }

  /** Both directions of every edge of `e` (columns `__a`, `__b`): the
    * `__a` column holds every endpoint, including self-loop-only and null
    * ones, which are nodes of the universe even though the loop filters
    * them out.
    */
  private def symmetric(e: DataFrame): DataFrame =
    e.union(e.select(col("__b").as("__a"), col("__a").as("__b")))

  /** The sorted distinct non-null node ids among `values` (Catalyst values
    * of type `t`), compared with Catalyst's interpreted ordering, so every
    * id type the loops join on indexes the same way; `apply` is an id's
    * position. The driver paths of [[connectedComponents]],
    * [[pageRank]] and [[graft.llm.Dedup.prefixFilteredJaccardPairs]] key
    * their per-node arrays by it.
    */
  private[graft] final class IdIndex(values: Iterator[Any], t: DataType) {
    private val ord = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(t)
    val ids: scala.collection.IndexedSeq[Any] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      values.filter(_ != null).toArray.sorted(ord).foreach { v =>
        if (out.isEmpty || ord.compare(out.last, v) != 0) out += v
      }
      out
    }
    def apply(v: Any): Int = ids.search(v)(ord).insertionPoint
  }

  /** `(node, component)` for every node of `nodeIds` (of `labels` when
    * None): its label, or the node itself when `labels` has none. The
    * result is computed now by [[Tuning.materialize]], so it never
    * replays the labeling; without `nodeIds` the labels are the driver
    * path's local relation, which materialize returns as it is.
    */
  private def restoreUniverse(nodeIds: Option[DataFrame], labels: DataFrame): DataFrame =
    Tuning.materialize(nodeIds.fold(labels)(_.join(labels.select(col("node"), col("lbl")), Seq("node"), "left"))
      .select(col("node"), coalesce(col("lbl"), col("node")).as("component")))

  /** `(node, lbl)` for every endpoint of the symmetric edge set `sym`
    * (columns `__a`, `__b`), labeled with the smallest id of its component
    * by union-find on the driver; None when `sym` is not broadcast-sized
    * ([[Tuning.broadcastRows]]).
    *
    * The union-find elements are the [[IdIndex]] positions of the ids, and
    * linking the larger root under the smaller keeps each component's root
    * at its minimum. Self-loops link nothing. A null endpoint links nothing
    * either and comes back as a `(null, null)` row, so the universe keeps
    * it, as the loop's does.
    */
  private def driverLabels(sym: DataFrame): Option[DataFrame] =
    Tuning.broadcastRows(sym).map { rows =>
      val t = sym.schema.head.dataType
      // `sym` is symmetric, so its `__a` column holds every endpoint
      val index = new IdIndex(rows.iterator.map(_.get(0, t)), t)
      val ids = index.ids
      val parent = Array.range(0, ids.length)
      def find(i: Int): Int = {
        var x = i
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val (ra, rb) = (find(index(r.get(0, t))), find(index(r.get(1, t))))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
      val labeled = ids.indices.map(i => InternalRow(ids(i), ids(find(i))))
      val nullEnd = if (rows.exists(_.isNullAt(0))) Seq(InternalRow(null, null)) else Nil
      org.apache.spark.sql.GraftBridge.localFrame(sym.sparkSession,
        StructType(Seq(StructField("node", t), StructField("lbl", t))), labeled ++ nullEnd)
    }

  /** The distributed loop of [[connectedComponents]] over the edges `e`
    * (columns `__a`, `__b`), restored to `universe` of their endpoints.
    */
  private def labelLoop(e: DataFrame, universe: DataFrame => DataFrame,
      maxRounds: Int): DataFrame =
    Tuning.loop(e.sparkSession, "connectedComponents") { loop =>
      // the closure and the universe both read the edges: persisted, their
      // input (a similarity join, say) evaluates once for both
      val sym = symmetric(loop.persist(e))
      val und = loop.persist(sym.filter(col("__a") =!= col("__b")).distinct())
      // Persisted: the universe's lineage may be an expensive generator,
      // and the restore join after convergence re-reads it — before the
      // subgraph iteration it seeded the (persisted) label table, so the
      // input plan evaluated once; the persist keeps that property.
      val nodeIds = loop.persist(universe(sym.select(col("__a").as("node"))))
      // Only nodes on a real (non-self-loop) edge can ever change label —
      // the loop iterates over THEM alone; everyone else (incl. self-loop-
      // only nodes) is a singleton restored by the final left join. The
      // start labels' count materializes `und` too.
      val active = und.select(col("__a").as("node")).distinct()
      // r19: the start-of-round label rides along as `__old` so the
      // convergence check is a FILTER on the jumped frame instead of a
      // third per-round join back onto `labels` (one fewer shuffle+build
      // per round; the comparison is the same jumped-vs-start-of-round one).
      val (labels, converged) = loop.rounds(active.select(col("node"), col("node").as("lbl")),
          maxRounds, Some(col("lbl") =!= col("__old"))) { labels =>
        val nmin = und.join(labels, col("__b") === col("node"))
          .groupBy(col("__a")).agg(min(col("lbl")).as("__nmin"))
        val relaxed = loop.persist(labels.join(nmin, col("node") === col("__a"), "left")
          .select(col("node"), col("lbl").as("__old"),
            least(col("lbl"), coalesce(col("__nmin"), col("lbl"))).as("lbl")))
        val parents = relaxed.select(col("node").as("__p"), col("lbl").as("__plbl"))
        relaxed.join(parents, col("lbl") === col("__p"))
          .select(col("node"), col("__old"), least(col("lbl"), col("__plbl")).as("lbl"))
      }
      // Relaxation + pointer jumping converge in O(log longestChain) rounds:
      // the default 30 covers chains ~2^30 deep, far past any real corpus.
      // Non-convergence therefore means maxRounds was lowered deliberately —
      // fail hard rather than return a partially-merged labeling.
      require(converged, s"connectedComponents did not converge in $maxRounds rounds")
      restoreUniverse(Some(nodeIds), labels)
    }

  /** Fixed-iteration PageRank over a directed edge list, in EXACT
    * integer arithmetic: ranks live on a `scale`-denominator grid
    * (default ppb), every contribution is `rank div out-degree` and the
    * damping fold is `((100−d)·base + d·Σin) div 100` — all BIGINT ops
    * whose partial sums are order-independent, so the result is
    * bit-reproducible under any partitioning AND bit-equal to a DuckDB
    * oracle spelling the same unrolled fold (`op_graph_pagerank`).
    * Floating-point PageRank can't be cross-engine-gated at all (sum
    * order changes the bits); the integer grid trades ≤1 ulp-of-grid
    * truncation per step for exactness of the gate.
    *
    * Dangling-node mass (nodes with no out-edges) is dropped rather
    * than redistributed — the common sparse-web simplification; ranks
    * then sum to < `scale` but the ORDERING, the gate, and the
    * fixed-point shape are unaffected, and both engines drop it
    * identically. An empty edge list has no node and gives an empty
    * `(node, rank_ppb)` frame.
    *
    * Two paths, chosen as [[connectedComponents]] chooses, by one bounded
    * collect of the distinct edges ([[Tuning.broadcastRows]]):
    *   - Driver path: at or under `spark.sql.autoBroadcastJoinThreshold`
    *     the rounds run on the driver over those edges (`driverRanks`)
    *     and the ranks become a local relation. Its arithmetic is
    *     Catalyst's own `IntegralDivide`, `Multiply`, `Add` and `Sum`,
    *     evaluated under the session's eval mode, so an ANSI session gets
    *     the loop's `ARITHMETIC_OVERFLOW` from this call and a non-ANSI
    *     one the loop's wrapped values. No job runs per round.
    *   - Loop path: over the threshold, or with the threshold at `-1`,
    *     each iteration is one edges⋈ranks shuffle on `src` plus one
    *     `dst` aggregation — the same two-shuffle round GraphX's
    *     Pregel-style PageRank pays, with Catalyst free to broadcast the
    *     (nodes-sized, usually small) rank table. Iteration plans are
    *     flattened per round so the lineage doesn't grow with iteration
    *     count. The rounds run in [[Tuning.loop]], whose jobs carry
    *     "pageRank round k", and the ranks are computed by
    *     [[Tuning.materialize]].
    * Both return the same rows. Ids
    * of any type the joins accept rank alike: a null endpoint is a node
    * that counts in the node total and gets a rank, but neither sends
    * nor receives mass, since the joins match no null key.
    *
    * Session conf: only the loop path writes it. While the loop runs
    * [[Tuning.loop]] sets
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` on the
    * CALLER's session and restores it after, so queries running
    * concurrently on that session see it too. The driver path reads the
    * session conf and writes none.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      srcCol: String = "src", dstCol: String = "dst",
      dampingPct: Long = 85L, scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst")).distinct()
    // the node type: the union's wider endpoint type, which the loop's
    // joins coerce both endpoints to
    val t = rankNodes(e).schema.head.dataType
    Tuning.broadcastRows(e.select(col("__src").cast(t), col("__dst").cast(t))) match {
      case Some(rows) => driverRanks(e.sparkSession, rows, t, iterations, dampingPct, scale)
      case None => rankLoop(e, iterations, dampingPct, scale)
    }
  }

  /** Every endpoint of the distinct edges `e` once, as `node`. */
  private def rankNodes(e: DataFrame): DataFrame =
    e.select(col("__src").as("node")).union(e.select(col("__dst").as("node"))).distinct()

  /** The uniform start mass of [[pageRank]]: `scale` split over `nodeN`
    * nodes, 0 when there is none to split it over.
    */
  private def startMass(scale: Long, nodeN: Long): Long =
    if (nodeN == 0) 0L else scale / nodeN

  /** [[pageRank]]'s rounds on the driver over `rows`, the distinct
    * `(src, dst)` edges as Catalyst values of the node type `t`: the
    * loop's joins, aggregation and fold, one array slot per
    * [[IdIndex]] position and Catalyst's expressions for every step of
    * arithmetic.
    */
  private def driverRanks(spark: org.apache.spark.sql.SparkSession, rows: Array[InternalRow],
      t: DataType, iterations: Int, dampingPct: Long, scale: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    val conf = spark.sessionState.conf
    val mode = EvalMode.fromSQLConf(conf)
    val index = new IdIndex(rows.iterator.flatMap(r => Seq(r.get(0, t), r.get(1, t))), t)
    val nullNode = rows.exists(r => r.isNullAt(0) || r.isNullAt(1))
    val base = startMass(scale, index.ids.length + (if (nullNode) 1L else 0L))
    // the edges whose contribution reaches a rank: a null src has no rank
    // to send and a null dst no row to receive it
    val (src, dst) = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (index(r.get(0, t)), index(r.get(1, t)))).unzip
    // out-degrees count every distinct edge of a src, a null dst included
    val deg = new Array[Long](index.ids.length)
    rows.foreach(r => if (!r.isNullAt(0)) deg(index(r.get(0, t))) += 1)
    val contribution = IntegralDivide(BoundReference(0, LongType, nullable = false),
      BoundReference(1, LongType, nullable = false), mode)
    val fold = IntegralDivide(Add(Multiply(Literal(100L - dampingPct), Literal(base), mode),
      Multiply(Literal(dampingPct), Coalesce(Seq(BoundReference(0, LongType, nullable = true),
        Literal(0L))), mode), mode), Literal(100L), mode)
    // Catalyst's Sum, stepped through its own update and result expressions
    val in = AttributeReference("c", LongType, nullable = false)()
    val sumAgg = Sum(in, NumericEvalContext.fromSQLConf(conf))
    val update = sumAgg.updateExpressions
      .map(BindReferences.bindReference(_, sumAgg.aggBufferAttributes :+ in))
    val total = BindReferences.bindReference(sumAgg.evaluateExpression, sumAgg.aggBufferAttributes)
    val empty = InternalRow.fromSeq(sumAgg.initialValues.map(_.eval()))
    var rank = Array.fill[Any](index.ids.length)(base)
    var nullRank: Any = base
    for (_ <- 1 to iterations) {
      val sums = Array.fill(index.ids.length)(empty)
      src.indices.foreach { k =>
        val c = contribution.eval(InternalRow(rank(src(k)), deg(src(k))))
        val acc = new JoinedRow(sums(dst(k)), InternalRow(c))
        sums(dst(k)) = InternalRow.fromSeq(update.map(_.eval(acc)))
      }
      rank = sums.map(s => fold.eval(InternalRow(total.eval(s))))
      nullRank = fold.eval(InternalRow(null))
    }
    val ranked = index.ids.indices.map(i => InternalRow(index.ids(i), rank(i)))
    org.apache.spark.sql.GraftBridge.localFrame(spark,
      StructType(Seq(StructField("node", t), StructField("rank_ppb", LongType))),
      if (nullNode) ranked :+ InternalRow(null, nullRank) else ranked)
  }

  /** The distributed rounds of [[pageRank]] over its distinct edges `edges`
    * (columns `__src`, `__dst`).
    */
  private def rankLoop(edges: DataFrame, iterations: Int, dampingPct: Long,
      scale: Long): DataFrame =
    Tuning.loop(edges.sparkSession, "pageRank") { loop =>
      val e = loop.persist(edges)
      val nodes = loop.persist(rankNodes(e))
      // r19: e ⋈ deg is loop-INVARIANT — computing it
      // inside the iteration re-ran the degree aggregate and its join
      // every round (two extra exchanges per iteration). Hoisted and
      // persisted, each round is exactly the two fundamental shuffles:
      // contribution join on src, aggregation on dst.
      val edeg = loop.persist(e.join(
        e.groupBy(col("__src")).agg(count(lit(1)).as("__deg")), "__src"))
      // One scalar action: the node count fixes the uniform start mass.
      val base = startMass(scale, nodes.count())
      val (ranks, _) = loop.rounds(nodes.select(col("node"), lit(base).as("rank_ppb")),
          iterations) { ranks =>
        val contrib = edeg
          .join(ranks, col("__src") === col("node"))
          .groupBy(col("__dst"))
          .agg(sum(expr("rank_ppb div __deg")).as("__s"))
        nodes
          .join(contrib, col("node") === col("__dst"), "left")
          .select(col("node"),
            expr(s"((${100L - dampingPct}L * ${base}L) + " +
              s"(${dampingPct}L * coalesce(__s, 0L))) div 100L")
              .as("rank_ppb"))
      }
      Tuning.materialize(ranks)
    }

  /** Exact bivariate statistics (covariance, Pearson correlation) from six
    * integer sums — the same cross-engine bit-exactness recipe as
    * [[exactMoments]]: inputs are floored to integers, the per-group sums
    * (n, Σx, Σy, Σxy, Σx², Σy²) are exact BIGINTs whose partial
    * aggregation is order-independent, and the final double arithmetic is
    * ONE deterministic closed-form expression spelled identically in the
    * DuckDB oracle. Built-in `corr`/`covar_samp` stream Welford-style
    * updates whose result depends on partition order — useless for
    * bit-reproducibility across engines or even across two runs of the
    * same 1000-executor job. Caller is responsible for input magnitudes:
    * Σx² must fit a BIGINT (floor to dollars, not cents, for prices).
    */
  def exactCorr(df: DataFrame, xCol: Column, yCol: Column, keys: Seq[String]): DataFrame = {
    val x = floor(xCol).cast("long").as("x")
    val y = floor(yCol).cast("long").as("y")
    val base = df.select(keys.map(col) ++ Seq(x, y): _*)
    val g = base.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n").cast("double")
    val dx = col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / n
    val dy = col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double") / n
    val dxy = col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double") / n
    g.withColumn("covar_samp_exact", dxy / (n - 1))
      .withColumn("covar_pop_exact", dxy / n)
      .withColumn("corr_exact", dxy / sqrt(dx * dy))
      .drop("sx", "sy", "sxy", "sxx", "syy")
  }

  def exactMoments(df: DataFrame, valueCol: Column, keys: Seq[String], scale: Int = 100): DataFrame = {
    val c = floor(valueCol * lit(scale)).cast("long").as("c")
    val base = df.select(keys.map(col) :+ c: _*)
    val g = base.groupBy(keys.map(col): _*)
      .agg(sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"), count(lit(1)).as("n"))
    val varExpr = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / col("n")) /
      (col("n") - 1) / lit(scale.toDouble * scale)
    g.withColumn("var_samp_exact", varExpr)
      .withColumn("stddev_samp_exact", sqrt(col("var_samp_exact")))
  }

  /** Ordered-sequence pattern match (MATCH_RECOGNIZE-lite, earliest-greedy
    * semantics): per key, find the chain of events satisfying `steps(0)`,
    * then `steps(1)` strictly later, … taking the EARLIEST candidate at
    * every step, and keep keys whose whole chain fits inside `within` of
    * the first step. Earliest-greedy is deterministic and composes as
    * K−1 filtered-input joins + min-aggregations — each step shuffles
    * only the rows matching ITS predicate (at 100 TB the funnel steps
    * are each a sliver of the event stream), never a per-key sort of
    * everything like a window-function formulation would.
    *
    * Output: one row per completed key with `ts_1 … ts_K` step times.
    * Note: earliest-greedy can miss chains a backtracking matcher would
    * find (taking a LATER step-1 event could admit an earlier finish) —
    * it is the streaming-friendly semantics, not full regex matching.
    */
  def sequenceMatch(events: DataFrame, keyCol: String, timeCol: String,
      steps: Seq[Column], within: Option[Column] = None): DataFrame = {
    require(steps.nonEmpty, "at least one step predicate required")
    val first = events.filter(steps.head)
      .groupBy(col(keyCol)).agg(min(col(timeCol)).as("ts_1"))
    val chained = steps.zipWithIndex.drop(1).foldLeft(first) {
      case (prev, (pred, i)) =>
        events.filter(pred)
          .join(prev, Seq(keyCol))
          .filter(col(timeCol) > col(s"ts_$i"))
          .groupBy((col(keyCol) +: (1 to i).map(j => col(s"ts_$j"))): _*)
          .agg(min(col(timeCol)).as(s"ts_${i + 1}"))
    }
    within match {
      case Some(bound) =>
        chained.filter(col(s"ts_${steps.size}") <= col("ts_1") + bound)
      case None => chained
    }
  }

  /** Exact z-score outlier flagging: keep rows whose integer-valued
    * `value` deviates from its group mean by more than `sigmas` sample
    * standard deviations — evaluated ENTIRELY in integer arithmetic
    * ((n·x − s1)² > sigmas²·n·((n·s2 − s1²) div (n−1)), all BIGINT), so
    * the flagged set is bit-identical on any engine or reduction order;
    * no sqrt, no doubles, no libm. One stats pass (map-side combined)
    * broadcast back onto the scan — the corpus itself never shuffles.
    * Overflow bound: |n·x − s1| must stay under 3·10⁹ (its square under
    * 2⁶³) — holds for cent-scaled values ≤ 10⁵ with group sizes ≤ 10⁵;
    * larger corpora scale the value units down or move the comparison
    * to the (deterministic, identically-parenthesized) double tree.
    */
  def zscoreOutliers(df: DataFrame, valueCol: String, keys: Seq[String],
      sigmas: Int = 3): DataFrame = {
    requireNoWorkingCols(df, "zscoreOutliers", "__n", "__s1", "__s2")
    val v = col(valueCol).cast("long")
    val stats = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(v).as("__s1"),
        sum(v * v).as("__s2"))
    df.join(broadcast(stats), keys)
      .filter(col("__n") > 1 &&
        (col("__n") * v - col("__s1")) * (col("__n") * v - col("__s1")) >
          lit(sigmas.toLong * sigmas) * col("__n") *
            expr("(__n * __s2 - __s1 * __s1) div (__n - 1)"))
      .drop("__n", "__s1", "__s2")
  }

  /** Merge algebraic aggregation states — incremental materialized-view
    * maintenance: each input frame carries per-key partial states
    * (`n_rows`, `sum_v`, `min_v`, `max_v`, the four algebraic aggregates
    * whose merge is their own combine), and the result is the state the
    * FULL data would produce — without rescanning it. At 100 TB this is
    * the nightly pattern: yesterday's stored states + today's (small)
    * batch states, one union + one groupBy over |keys| rows instead of a
    * full-history scan. Holistic aggregates (exact distinct, exact
    * median) do NOT merge this way — they need sketches (see the HLL /
    * quantile operators).
    */
  def mergeAggStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "at least one state frame required")
    val stateCols = Seq("n_rows", "sum_v", "min_v", "max_v")
    states.foreach(st => require(stateCols.forall(st.columns.contains),
      s"state frames must carry ${stateCols.mkString("/")}"))
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
  }

  /** Per-key algebraic aggregation state for [[mergeAggStates]]. */
  def aggState(df: DataFrame, value: Column, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(value).as("sum_v"),
        min(value).as("min_v"),
        max(value).as("max_v"))

  /** Per-key DISTINCT-count state for [[mergeDistinctSketches]] — the
    * holistic-aggregate counterpart of [[aggState]]: exact distincts
    * don't merge (yesterday's count + today's count double-counts
    * returning keys), but DataSketches HLL sketches DO — union is their
    * combine. State per key is a fixed-size sketch (`lgConfigK`
    * buckets), so the incremental pipeline stores KBs per key
    * regardless of value cardinality.
    */
  def distinctSketchState(df: DataFrame, value: Column,
      keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(value).as("sketch"))

  /** Merge per-key HLL distinct states and estimate — incremental
    * distinct-count maintenance: yesterday's stored sketches + today's
    * batch sketches union into a state with the SAME accuracy guarantee
    * as a full-data sketch (union loses nothing of the HLL error bound;
    * the register encoding — and so the point estimate — may differ
    * slightly from a single-pass build due to sparse/dense mode
    * promotion), one groupBy over |keys| sketch rows instead of a
    * full-history rescan. Completes the [[mergeAggStates]] story for
    * the aggregate class it documents as non-mergeable.
    */
  def mergeDistinctSketches(states: Seq[DataFrame],
      keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "at least one state frame required")
    states.foreach(st => require(st.columns.contains("sketch"),
      "state frames must carry a 'sketch' column"))
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(hll_union_agg(col("sketch")).as("sketch"))
      .withColumn("n_distinct_approx", hll_sketch_estimate(col("sketch")))
  }

  /** Estimated per-key INTERSECTION cardinality of two
    * [[distinctSketchState]] frames via inclusion–exclusion:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), clamped at zero. This is the
    * sketch-algebra completion of [[mergeDistinctSketches]] (union):
    * audience overlap, returning-users, cross-period retention — all
    * without rescanning either side's raw data. Standard HLL caveat:
    * relative error is on the UNION's scale, so small intersections of
    * large sets are noisy (RelationalSpec bounds the well-conditioned
    * case; the exact-bitmap tier is the fallback when that matters).
    */
  def sketchIntersectionEstimate(a: DataFrame, b: DataFrame,
      keys: Seq[String]): DataFrame = {
    Seq(a, b).foreach(st => require(st.columns.contains("sketch"),
      "state frames must carry a 'sketch' column"))
    val la = a.select((keys.map(col) :+ col("sketch").as("__sa")): _*)
    val lb = b.select((keys.map(col) :+ col("sketch").as("__sb")): _*)
    la.join(lb, keys)
      .select((keys.map(col) :+
        greatest(lit(0L),
          hll_sketch_estimate(col("__sa")) + hll_sketch_estimate(col("__sb")) -
            hll_sketch_estimate(hll_union(col("__sa"), col("__sb"))))
          .as("n_intersect_approx")): _*)
  }

  /** Per-key EXACT mergeable DISTINCT state — the exact tier above
    * [[distinctSketchState]] for integral values: each (key, bucket)
    * row stores a fixed 4 KB bitmap of which of the bucket's 32768 bit
    * positions occur (`bitmap_construct_agg`). Bitmap OR is the
    * combine, so unlike a materialized COUNT(DISTINCT) this state
    * merges across batches with NO error at all; the trade is state
    * size proportional to the VALUE RANGE (one bucket row per occupied
    * 32768-value span) where the HLL sketch is constant-size. Pick by
    * domain: dense integral ids → bitmap (exact), open-ended / non-
    * integral values → sketch.
    */
  def distinctBitmapState(df: DataFrame, value: Column,
      keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col) :+ bitmap_bucket_number(value).as("bucket"): _*)
      .agg(bitmap_construct_agg(bitmap_bit_position(value)).as("bitmap"))

  /** Merge per-key bitmap distinct states and count — exact incremental
    * distinct maintenance: OR the bitmaps per (key, bucket)
    * (`bitmap_or_agg`), then sum the per-bucket population counts. A
    * value present in any batch sets the same bit in the same bucket,
    * so the merged count IS the full-data COUNT(DISTINCT) — gated
    * bit-exact against DuckDB's COUNT(DISTINCT) by
    * `op_incr_distinct_exact`, where the HLL twin can only be
    * rows+spec-gated.
    */
  def mergeDistinctBitmaps(states: Seq[DataFrame],
      keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "at least one state frame required")
    states.foreach(st => require(
      Seq("bucket", "bitmap").forall(st.columns.contains),
      "state frames must carry 'bucket' and 'bitmap' columns"))
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col) :+ col("bucket"): _*)
      .agg(bitmap_or_agg(col("bitmap")).as("bitmap"))
      .groupBy(keys.map(col): _*)
      .agg(sum(bitmap_count(col("bitmap"))).as("n_distinct"))
  }

  /** Declarative data-quality constraints for [[checkConstraints]] — the
    * validation layer a training-data pipeline runs before a corpus
    * ships. Row-level constraints (everything but [[RefIntegrity]])
    * follow SQL three-valued logic: a NULL value does not violate a
    * range/set/regex constraint — pair with [[NotNull]] to forbid NULLs
    * explicitly.
    */
  sealed trait Constraint { private[graft] def label: String }
  /** Column must not contain NULL. */
  case class NotNull(column: String) extends Constraint {
    private[graft] def label = s"not_null($column)"
  }
  /** Column set must be a candidate key; violations = excess rows among
    * rows whose key components are all non-null (COUNT(key present) −
    * COUNT(DISTINCT cols)) — NULL keys are [[NotNull]]'s concern, not a
    * duplicate.
    */
  case class UniqueKey(columns: Seq[String]) extends Constraint {
    private[graft] def label = s"unique(${columns.mkString(",")})"
  }
  /** Non-null values must fall in [lo, hi]. */
  case class InRange(column: String, lo: Column, hi: Column) extends Constraint {
    private[graft] def label = s"in_range($column)"
  }
  /** Non-null values must be members of `values`. */
  case class InSet(column: String, values: Seq[Any]) extends Constraint {
    private[graft] def label = s"in_set($column)"
  }
  /** Non-null values must match `regex` (partial match, RLIKE). */
  case class MatchesRegex(column: String, regex: String) extends Constraint {
    private[graft] def label = s"matches($column)"
  }
  /** Non-null values must exist in `ref.refColumn` (foreign-key check;
    * `refName` labels the target in the report).
    */
  case class RefIntegrity(column: String, ref: DataFrame, refColumn: String,
      refName: String) extends Constraint {
    private[graft] def label = s"ref($column->$refName)"
  }

  /** Evaluate a constraint suite over `df` in as few passes as the
    * constraints allow — the pre-ship validation gate (Deequ's model,
    * re-expressed as plain conditional aggregation). ALL row-level
    * constraints — not-null, unique-key, range, set, regex — fold into
    * ONE aggregation pass over one scan (each is a conditional SUM;
    * unique-key is COUNT(*) − COUNT(DISTINCT key), computed in the same
    * pass); each [[RefIntegrity]] adds one left-anti probe whose
    * (deduplicated) reference side Catalyst broadcasts when small.
    * Output: one row per constraint — `(constraint_name, violations,
    * total, pass)` — so the report is itself a DataFrame a pipeline can
    * gate on (`filter(!pass)` + fail).
    *
    * At 100 TB: the row-level pass is a partial-aggregated full scan
    * (no shuffle beyond the 1-row final agg) regardless of how many
    * constraints are declared; only COUNT(DISTINCT) adds a key
    * shuffle, and each FK check is one semi-join-shaped probe.
    */
  def checkConstraints(df: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    require(constraints.nonEmpty, "at least one constraint required")
    val rowLevel = constraints.filter(!_.isInstanceOf[RefIntegrity])
    val refs = constraints.collect { case r: RefIntegrity => r }
    val violationExprs = rowLevel.zipWithIndex.map { case (c, i) =>
      val v = c match {
        case NotNull(cn) => sum(when(col(cn).isNull, 1L).otherwise(0L))
        case UniqueKey(cols) =>
          val allPresent = cols.map(col(_).isNotNull).reduce(_ && _)
          sum(when(allPresent, 1L).otherwise(0L)) -
            countDistinct(cols.head, cols.tail: _*)
        case InRange(cn, lo, hi) =>
          sum(when(col(cn) < lo || col(cn) > hi, 1L).otherwise(0L))
        case InSet(cn, vs) =>
          sum(when(!col(cn).isin(vs: _*), 1L).otherwise(0L))
        case MatchesRegex(cn, re) =>
          sum(when(!col(cn).rlike(re), 1L).otherwise(0L))
        case _: RefIntegrity => throw new IllegalStateException("unreachable")
      }
      coalesce(v, lit(0L)).as(s"__c$i") // empty input: zero violations
    }
    val agg = df.agg(count(lit(1)).as("__total"), violationExprs: _*)
    val longForm = agg.select(
      explode(array(rowLevel.zipWithIndex.map { case (c, i) =>
        struct(lit(c.label).as("constraint_name"), col(s"__c$i").as("violations"))
      }: _*)).as("__c"), col("__total"))
      .select(col("__c.constraint_name"), col("__c.violations"),
        col("__total").as("total"))
    val total = agg.select(col("__total"))
    val refForms = refs.map { r =>
      df.select(col(r.column)).filter(col(r.column).isNotNull)
        .join(r.ref.select(col(r.refColumn).as(r.column)).distinct(),
          Seq(r.column), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit(r.label).as("constraint_name"), col("violations"))
        .crossJoin(total)
        .select(col("constraint_name"), col("violations"), col("__total").as("total"))
    }
    (longForm +: refForms).reduce(_ unionByName _)
      .withColumn("pass", col("violations") === 0L)
  }

  /** Snapshot diff — classify every key of snapshot `b` against snapshot
    * `a` as `added` / `removed` / `changed` (value columns compared
    * null-safely) in ONE full-outer join. This is the table-versioning
    * primitive: audit what a pipeline run changed, build a CDC feed from
    * two dated snapshots (feed [[applyCdc]]), or validate a migration.
    *
    * Both frames must share a schema; `keys` identify a row across
    * snapshots, every other column is compared. Unchanged keys are
    * dropped by default — at snapshot scale they are the overwhelming
    * majority, and filtering them before the result materializes is what
    * keeps the diff output |changes|-sized rather than |table|-sized.
    *
    * Scale: one co-partitioned shuffle on `keys` (the join); with both
    * snapshots bucketed by key on storage (the natural layout for
    * versioned tables — see [[bucketedJoin]]) it runs shuffle-free. The
    * per-row classification is pure column arithmetic inside the join's
    * codegen stage.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, keys: Seq[String],
      includeUnchanged: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(a.columns.sameElements(b.columns),
      s"snapshot schemas differ: ${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")
    requireNoWorkingCols(a, "snapshotDiff", "__a_present", "__b_present")
    val valueCols = a.columns.filterNot(keys.contains).toSeq
    val al = a.withColumn("__a_present", lit(1)).as("a")
    val bl = b.withColumn("__b_present", lit(1)).as("b")
    val joinCond = keys.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _)
    val differs = valueCols.map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val changeType = when(col("__b_present").isNull, lit("removed"))
      .when(col("__a_present").isNull, lit("added"))
      .when(differs, lit("changed"))
      .otherwise(lit("unchanged"))
    val out = al.join(bl, joinCond, "full_outer")
      .select(keys.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++
        Seq(changeType.as("change_type")) ++
        valueCols.flatMap(c =>
          Seq(col(s"a.$c").as(s"old_$c"), col(s"b.$c").as(s"new_$c"))): _*)
    if (includeUnchanged) out else out.filter(col("change_type") =!= "unchanged")
  }

  /** Linear interpolation of missing values over an ordered series —
    * the gap-fill step after [the date-spine join](op_timeseries_gapfill)
    * when zero-fill / forward-fill are too crude (sensor feeds, price
    * curves). `xCol` is the numeric axis (e.g. epoch days), `valueCol` an
    * integral value (scale doubles to cents first — integer values are
    * what makes the result reproducible across engines and partitionings).
    *
    * Interior gaps get `prev + floor((next-prev)·(x-px) / (nx-px))` —
    * one correctly-rounded IEEE division then floor, the identical
    * expression tree the DuckDB oracle evaluates, so the interpolation is
    * bit-exact. Leading/trailing gaps (no bracket on one side) carry the
    * nearest known value.
    *
    * Scale: two window passes over the same `partitionCols`/`xCol` sort —
    * Catalyst plans ONE sort+exchange and evaluates both frames on it.
    * Unpartitioned series degenerate to a single-task sort (correct but
    * serial) — at corpus scale always interpolate per series key.
    */
  /** Largest-remainder proration: split each group's integer `total`
    * across its rows proportionally to integer `weight`, with the
    * leftover units (total − Σ floor shares) handed one-by-one to the
    * rows with the largest fractional remainders — the classic exact
    * allocation (invoice-line tax split, budget spread, seat
    * apportionment). Per group: Σ alloc = total, exactly, in integer
    * units — no penny ever lost to rounding. All arithmetic is BIGINT
    * (`div`/`%` on non-negative operands, so truncation = floor on any
    * engine); ties on remainder break by `orderCol` ascending, making
    * the allocation bit-deterministic under any partitioning.
    *
    * Preconditions (caller's responsibility, mirroring [[applyCdc]]):
    * `total` is constant within a group, weights are non-negative, and
    * `orderCol` is unique within a group; `validate = true` makes
    * violations fail loudly instead of corrupting the allocation.
    *
    * Scale: ONE shuffle on the group key serves both window passes
    * (weight sum + remainder rank) — Catalyst plans a single exchange
    * and sort. Groups are typically tiny (rows-per-order), so no skew;
    * a pathological mega-group degrades to a single-task sort of that
    * group only.
    */
  def prorate(df: DataFrame, keys: Seq[String], weightCol: String,
      totalCol: String, orderCol: String,
      validate: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireNoWorkingCols(df, "prorate", "__w", "__base", "__rem", "__rn")
    if (validate) {
      val bad = df.groupBy(keys.map(col): _*)
        .agg(countDistinct(col(totalCol)).as("__nt"),
          count(lit(1)).as("__n"),
          countDistinct(col(orderCol)).as("__no"),
          min(col(weightCol)).as("__minw"))
        .filter(col("__nt") > 1 || col("__no") < col("__n") ||
          col("__minw") < 0)
      require(bad.isEmpty,
        "prorate: total not constant per group, duplicate order keys, " +
          "or negative weights")
    }
    val part = Window.partitionBy(keys.map(col): _*)
    val byRem = part.orderBy(col("__rem").desc, col(orderCol))
    val w = col(weightCol).cast("long")
    val t = col(totalCol).cast("long")
    df.withColumn("__w", sum(w).over(part))
      .withColumn("__base",
        // multiply on LONG-cast operands: int-typed total/weight would
        // overflow the 32-bit product before the div (abort under ANSI,
        // silently negative without), exactly as __rem below already casts
        when(col("__w") > 0,
          expr(s"(CAST(`$totalCol` AS BIGINT) * CAST(`$weightCol` AS BIGINT)) div __w"))
          .otherwise(lit(0L)))
      .withColumn("__rem",
        when(col("__w") > 0, (t * w) % col("__w")).otherwise(lit(0L)))
      .withColumn("__rn", row_number().over(byRem))
      .withColumn("alloc",
        col("__base") + when(col("__w") > 0 &&
          col("__rn") <= t - sum(col("__base")).over(part), 1L)
          .otherwise(0L))
      .drop("__w", "__base", "__rem", "__rn")
  }

  /** Robust outlier flagging via median absolute deviation: a row is an
    * outlier when |x − median| > k·MAD, with both the median and the MAD
    * taken as PERCENTILE_DISC(0.5) (the smallest value whose cumulative
    * distribution reaches ½ — always an actual data value, so for
    * integer inputs the whole test stays in exact integer arithmetic;
    * no mean, no variance, no doubles). Unlike [[zscoreOutliers]], a
    * single extreme value cannot inflate the scale estimate and mask
    * itself — MAD has a 50% breakdown point.
    *
    * Scale: two aggregation passes over the grouped data (median, then
    * MAD of deviations) and a broadcast of the per-key stats back onto
    * the scan — the corpus itself never shuffles. PERCENTILE_DISC is a
    * holistic aggregate (needs the sorted group), so each pass shuffles
    * only (key, value) pairs, not whole rows.
    */
  def madOutliers(df: DataFrame, valueCol: String, keys: Seq[String],
      k: Int = 3): DataFrame = {
    requireNoWorkingCols(df, "madOutliers", "__med", "__mad", "__dev")
    val keyCols = keys.map(col)
    val med = df.groupBy(keyCols: _*)
      .agg(expr(
        s"percentile_disc(0.5) WITHIN GROUP (ORDER BY $valueCol)")
        .cast("long").as("__med"))
    val mad = df.join(broadcast(med), keys)
      .withColumn("__dev", abs(col(valueCol).cast("long") - col("__med")))
      .groupBy(keyCols: _*)
      .agg(first(col("__med")).as("__med"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __dev)")
          .cast("long").as("__mad"))
    df.join(broadcast(mad), keys)
      .filter(abs(col(valueCol).cast("long") - col("__med")) >
        lit(k.toLong) * col("__mad"))
      .withColumn("med", col("__med"))
      .withColumn("mad", col("__mad"))
      .drop("__med", "__mad")
  }

  /** Exact global `ntile(buckets)` WITHOUT a single-partition window
    * (r20, r19 verdict #8 — the last unbounded `WindowExec: No Partition
    * Defined` in a query path): range-partition the rows on the order
    * key, number rows within each partition, and lift to the GLOBAL rank
    * by adding per-partition row-count offsets (a bounded, ≤#partitions-
    * row window); buckets then follow from ntile's own arithmetic — with
    * N rows, the first N mod k buckets hold ceil(N/k) rows, the rest
    * floor(N/k) — bit-identical to Spark's (and DuckDB's) NTile on the
    * same total order. `order` MUST be a total order (append a unique
    * tiebreaker): ties straddling a range boundary would otherwise make
    * the partition-local numbering ambiguous. The range-partitioned
    * projection is checkpointed once — sampled range boundaries and
    * `spark_partition_id` must be FROZEN across the two consumers
    * (per-partition counts, the rank pass); without it each consumer
    * re-samples its own boundaries and the offsets are garbage.
    * Adds `bucketCol` (LONG in 1..buckets) to `df`'s columns.
    *
    * At scale this is two narrow parallel shuffles (range + pid) over
    * (order-key, payload) rows instead of every row through ONE task;
    * NtileSpec pins bit-equality against the windowed spelling,
    * including N < buckets and all-ties inputs.
    */
  def globalNtile(df: DataFrame, buckets: Int, order: Seq[Column],
      bucketCol: String = "bucket"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    import org.apache.spark.sql.expressions.Window
    requireNoWorkingCols(df, "globalNtile", bucketCol, "__pid", "__rank", "__off", "__ntot")
    // range width from a measured row count, not the session constant: a
    // bench-scale input range-partitions into a handful of real
    // partitions instead of a session-width wave of micro-partitions;
    // corpus-scale inputs hit the session cap (see Tuning.loopPartitions).
    // The count is a full pass over a computed input, taken only when the
    // session is wider than the loop floor.
    val parts = Tuning.loopPartitions(df.count(),
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val ranged = Tuning.materialize(df.repartitionByRange(parts, order: _*)
      .withColumn("__pid", spark_partition_id()))
    // ONE broadcast-sized frame carries both the per-partition rank
    // offset and the grand total (two frames over the window over the
    // same ≤`parts` count rows — same pass, one fewer broadcast job and
    // no nested-loop cross join).
    val pc = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
    val w = Window.orderBy(col("__pid"))
    val offs = pc.select(col("__pid"),
      coalesce(sum(col("__c")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__off"),
      sum(col("__c")).over(w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)).as("__ntot"))
    // NTile's row layout over global rank r (1-based): bucketSize =
    // N div k, remainder = N mod k; the first `remainder` buckets take
    // bucketSize+1 rows. The ELSE branch's div-by-zero (N < k ⇒
    // bucketSize 0) is unreachable: its threshold is then N itself, so
    // every rank takes the THEN branch (one row per bucket, like NTile).
    ranged
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(order: _*)).cast("long"))
      .join(broadcast(offs), Seq("__pid"))
      .withColumn("__rank", col("__rank") + col("__off"))
      .withColumn(bucketCol, expr(
        s"""CASE WHEN __rank <= (__ntot % $buckets) * (__ntot div $buckets + 1)
           |THEN (__rank - 1) div (__ntot div $buckets + 1) + 1
           |ELSE (__ntot % $buckets)
           |  + (__rank - (__ntot % $buckets) * (__ntot div $buckets + 1) - 1)
           |    div (__ntot div $buckets) + 1
           |END""".stripMargin.replace("\n", " ")).cast("long"))
      .drop("__pid", "__rank", "__off", "__ntot")
  }

  /** Market-basket co-occurrence: for every unordered item pair appearing
    * together in at least one group (order, session, basket), the pair
    * count plus each item's own group count and the lift×10⁶ —
    * lift = P(a,b) / (P(a)·P(b)) = n_pair·N / (n_a·n_b), computed in
    * exact BIGINT ppm so rankings are engine-independent. Lift > 1e6
    * means the items co-occur more than independence predicts — the
    * association-rule screening statistic.
    *
    * Scale: pairs come from a per-group self-join of the DISTINCT
    * (group, item) table — cost Σ m_g², bounded by basket size, never
    * corpus²; the shuffle key is the group. Item counts and the group
    * total broadcast back onto the pair table. A pathological mega-basket
    * (m² blowup) should be capped upstream — flag with [[skewDiagnose]].
    *
    * NOTE (r19 advice): constructing this frame EAGERLY materializes the
    * distinct (group, item) set ([[Tuning.materialize]], reclaimed when
    * the result is dropped) — explain-only callers
    * pay that one job too. Intentional: the set feeds five consumers
    * whose per-consumer pruning would otherwise defeat every reuse.
    */
  def coOccurrencePairs(df: DataFrame, groupCol: String, itemCol: String): DataFrame = {
    // r19 (guide §2.4/§5): the distinct (group, item) set feeds FIVE
    // consumers (both self-join sides, two per-item counts, the group
    // total) and the per-consumer column pruning makes their distinct
    // exchanges canonically unequal, so neither ReuseExchange nor AQE
    // dedups them — the final adaptive plan re-scanned and re-deduped
    // the input five times. One eager materialization of the deduped
    // frame (smaller than the input by construction) replaces five full
    // scans + five distinct shuffles with one of each; same pattern as
    // connectedComponents'/pageRank's working caches.
    val items = Tuning.materialize(
      df.select(col(groupCol).as("__g"), col(itemCol).as("__item")).distinct())
    val itemCnt = items.groupBy(col("__item")).agg(count(lit(1)).as("__n"))
    val total = items.select(countDistinct(col("__g")).as("__ntotal"))
    // r20 (guide §2.5): the self-join's OUTPUT is Σ m_g² — much bigger
    // than its input — but AQE sizes the post-shuffle width from the
    // INPUT bytes of the checkpointed set (a LogicalRDD with no stats),
    // so at bench scale the whole pair explosion ran in 1-2 tasks.
    // Repartition both sides by group at a width derived from the
    // measured row count (a pass over the checkpoint, taken only when the
    // session is wider than the loop floor; an explicit width is exempt
    // from AQE re-coalescing): the join reuses the single exchange on
    // both sides and the explosion spreads across the derived width at
    // any scale.
    val parts = Tuning.loopPartitions(items.count(),
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val itemsByG = items.repartition(parts, col("__g"))
    itemsByG.as("a").join(itemsByG.as("b"),
        col("a.__g") === col("b.__g") && col("a.__item") < col("b.__item"))
      .groupBy(col("a.__item").as("item_a"), col("b.__item").as("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .join(broadcast(itemCnt.select(col("__item").as("item_a"),
        col("__n").as("n_a"))), "item_a")
      .join(broadcast(itemCnt.select(col("__item").as("item_b"),
        col("__n").as("n_b"))), "item_b")
      .crossJoin(broadcast(total))
      .withColumn("lift_ppm",
        expr("n_pair * __ntotal * 1000000L div (n_a * n_b)"))
      .select(col("item_a"), col("item_b"), col("n_pair"), col("n_a"),
        col("n_b"), col("__ntotal").as("n_groups"), col("lift_ppm"))
  }

  /** Distribution drift between two snapshots of the same categorical
    * column: per key, each side's exact ppm share, the signed delta, and
    * the χ²-style contribution (a−e)²·10⁶ div e over ppm shares (b as
    * the expected distribution) — all BIGINT, so the drift report is
    * bit-identical on any engine. Σ|delta_ppm| / 2 is total variation
    * distance in ppm; keys present on only one side surface with a zero
    * share rather than vanishing (full outer join).
    *
    * Scale: two map-side-combined aggregations (one per snapshot,
    * key-cardinality-sized results) and a broadcastable outer join —
    * the snapshots themselves never co-shuffle.
    */
  def distributionDrift(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    def shares(df: DataFrame, n: String) = {
      val cnt = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
      cnt.crossJoin(broadcast(cnt.select(sum(col("__c")).as("__t"))))
        .select(col(keyCol), expr(s"__c * 1000000L div __t").as(n))
    }
    shares(a, "share_a_ppm")
      .join(shares(b, "share_b_ppm"), Seq(keyCol), "full_outer")
      .na.fill(0L, Seq("share_a_ppm", "share_b_ppm"))
      .withColumn("delta_ppm", col("share_a_ppm") - col("share_b_ppm"))
      .withColumn("chi2_contrib",
        when(col("share_b_ppm") > 0,
          expr("(share_a_ppm - share_b_ppm) * (share_a_ppm - share_b_ppm) " +
            "* 1000000L div share_b_ppm")).otherwise(lit(null)))
  }

  /** Winsorization: clamp each value into its group's [loPct, hiPct]
    * PERCENTILE_DISC band — the standard tail-taming transform applied
    * before mean-based statistics (a trimmed alternative to dropping
    * outliers). Discrete percentiles are actual data values, so for
    * integer inputs the clamped column stays integer-exact; the original
    * value is kept alongside `<valueCol>_w`.
    *
    * Scale: one (key, value) aggregation pass computes the two bounds
    * per group, then the tiny bounds table broadcasts back onto the
    * scan — the data itself never shuffles.
    */
  def winsorize(df: DataFrame, valueCol: String, keys: Seq[String],
      loPct: Double = 0.05, hiPct: Double = 0.95): DataFrame = {
    require(loPct >= 0 && hiPct <= 1 && loPct <= hiPct,
      s"winsorize: need 0 <= loPct <= hiPct <= 1, got ($loPct, $hiPct)")
    requireNoWorkingCols(df, "winsorize", "__lo", "__hi")
    val keyCols = keys.map(col)
    val bounds = df.groupBy(keyCols: _*)
      .agg(
        expr(s"percentile_disc(CAST($loPct AS DOUBLE)) WITHIN GROUP (ORDER BY $valueCol)")
          .cast("long").as("__lo"),
        expr(s"percentile_disc(CAST($hiPct AS DOUBLE)) WITHIN GROUP (ORDER BY $valueCol)")
          .cast("long").as("__hi"))
    df.join(broadcast(bounds), keys)
      .withColumn(valueCol + "_w",
        greatest(col("__lo"), least(col("__hi"), col(valueCol).cast("long"))))
      .drop("__lo", "__hi")
  }

  /** Point-in-time snapshot (time travel over an event/history table):
    * for each key, the latest record with `timeCol <= asOf` — the state
    * the table had at `asOf`. Ties on `timeCol` break by `tieCol`
    * descending (a sequence/version column), making the snapshot
    * deterministic.
    *
    * Scale: the `timeCol <= asOf` filter pushes into the scan (partition
    * pruning on date-partitioned history), then ONE shuffle on the key
    * for the per-key latest — the same shape as [[applyCdc]]'s windowing.
    */
  def asOfSnapshot(df: DataFrame, keys: Seq[String], timeCol: String,
      asOf: Column, tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireNoWorkingCols(df, "asOfSnapshot", "__rn")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).desc, col(tieCol).desc)
    df.filter(col(timeCol) <= asOf)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Linear interpolation of NULL gaps in `valueCol` ordered by `xCol`:
    * interior gaps take floor-divided linear interpolants between the
    * bracketing known points, edge gaps carry the nearest known value.
    * Adds `<valueCol>_interp`.
    *
    * Scale: with `partitionCols` the windows shuffle once on the series
    * key — the 100 TB path (one series per key, each sorted
    * independently). An EMPTY `partitionCols` is a GLOBAL single-
    * partition sort and must be opted into with `globalWindowOk = true`
    * — reserved for provably tiny inputs (the op_interp_linear gate's
    * 90-row generated spine); forgetting the argument fails fast instead
    * of silently handing a scale-killer to the caller.
    */
  def interpolateLinear(df: DataFrame, xCol: String, valueCol: String,
      partitionCols: Seq[String] = Nil, globalWindowOk: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(partitionCols.nonEmpty || globalWindowOk,
      "interpolateLinear: empty partitionCols is a GLOBAL single-partition " +
        "window sort — pass series key columns, or opt in explicitly with " +
        "globalWindowOk = true for a provably tiny input")
    requireNoWorkingCols(df, "interpolateLinear",
      "__pv", "__px", "__nv", "__nx")
    val base = partitionCols match {
      case Nil => Window.orderBy(col(xCol))
      case ps => Window.partitionBy(ps.map(col): _*).orderBy(col(xCol))
    }
    val wPrev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valueCol)
    val known = when(v.isNotNull, col(xCol))
    df.withColumn("__pv", last(v, ignoreNulls = true).over(wPrev))
      .withColumn("__px", last(known, ignoreNulls = true).over(wPrev))
      .withColumn("__nv", first(v, ignoreNulls = true).over(wNext))
      .withColumn("__nx", first(known, ignoreNulls = true).over(wNext))
      .withColumn(s"${valueCol}_interp",
        when(v.isNotNull, v)
          .when(col("__pv").isNull, col("__nv"))
          .when(col("__nv").isNull, col("__pv"))
          .otherwise(col("__pv") +
            floor(((col("__nv") - col("__pv")) * (col(xCol) - col("__px")))
              .cast("double") / (col("__nx") - col("__px")).cast("double"))
              .cast("long")))
      .drop("__pv", "__px", "__nv", "__nx")
  }
}
