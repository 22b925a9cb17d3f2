package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Relational operator semantics: salted join equivalence on skewed data,
  * approximate-aggregate error bounds, set-op semantics vs SQL.
  */
class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin is row-identical to the plain join on skewed keys") {
    initLog()
    // 90% of left rows share one hot key — the scenario salting exists for
    val left = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i)).toDF("k", "v")
    val right = (1L to 20L).map(k => (k, s"r$k")).toDF("k2", "name")
    val plain = left.join(right, col("k") === col("k2"))
      .groupBy(col("name")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val salted = Relational.saltedJoin(left, right, "k", "k2", saltBuckets = 4)
      .groupBy(col("name")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("approx_count_distinct is within 5% of exact on the orders table") {
    val orders = graft.Tables.load(spark, "/root/testdata/sf0.01", "orders")
    val row = orders.agg(
      approx_count_distinct(col("o_custkey"), rsd = 0.01).as("a"),
      countDistinct(col("o_custkey")).as("e")).head()
    val (a, e) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.05, s"approx $a vs exact $e")
  }

  test("percentile_approx brackets the exact median") {
    val orders = graft.Tables.load(spark, "/root/testdata/sf0.01", "orders")
    val row = orders.agg(
      percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("a"),
      expr("percentile(o_totalprice, 0.5)").as("e")).head()
    val (a, e) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(a - e) / e < 0.01, s"approx p50 $a vs exact $e")
  }

  test("union is set semantics, unionAll is bag semantics") {
    val a = Seq(1, 2, 2, 3).toDF("x")
    val b = Seq(2, 3, 4).toDF("x")
    assert(Relational.union(a, b).count() === 4)     // {1,2,3,4}
    assert(Relational.unionAll(a, b).count() === 7)
    assert(Relational.intersect(a, b).count() === 2) // {2,3}
    assert(Relational.except(a, b).count() === 1)    // {1}
    assert(Relational.exceptAll(a, b).count() === 2) // [1, 2]
  }

  test("exactCorr agrees with Spark's built-in corr/covar to float tolerance") {
    val li = graft.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(floor(col("l_extendedprice")).as("x"), floor(col("l_quantity")).as("y"))
    val builtin = li.agg(corr(col("x"), col("y")).as("c"),
      covar_samp(col("x"), col("y")).as("cs")).head()
    val exact = Relational.exactCorr(li.withColumn("g", lit(1)),
      col("x"), col("y"), Seq("g")).head()
    assert(math.abs(exact.getAs[Double]("corr_exact") - builtin.getDouble(0)) < 1e-9)
    assert(math.abs(exact.getAs[Double]("covar_samp_exact") - builtin.getDouble(1))
      / math.abs(builtin.getDouble(1)) < 1e-9)
  }

  test("bloomSemiJoin is row-identical to the plain left-semi join") {
    val orders = graft.Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val cust = graft.Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .filter(col("c_acctbal") > 5000)
    val plain = orders.join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
    val bloomed = Relational.bloomSemiJoin(orders, cust, "o_custkey", "c_custkey")
    assert(bloomed.count() === plain.count())
    assert(bloomed.exceptAll(plain).isEmpty && plain.exceptAll(bloomed).isEmpty)
  }

  test("bloomSemiJoin coerces mismatched key types before hashing") {
    // INT keys on the probe side, BIGINT on the filter side: xxhash64 hashes
    // the two representations of the same value differently, so without the
    // coercion fix the bloom prefilter drops every true match.
    val big = (1 to 100).map(i => (i % 10, i)).toDF("k", "v") // k: INT
    val small = Seq(3L, 7L).toDF("k2")                        // k2: BIGINT
    val plain = big.join(small, col("k") === col("k2"), "left_semi")
    val bloomed = Relational.bloomSemiJoin(big, small, "k", "k2")
    assert(bloomed.count() === plain.count() && plain.count() === 20)
    assert(bloomed.exceptAll(plain).isEmpty && plain.exceptAll(bloomed).isEmpty)
    intercept[IllegalArgumentException](
      Relational.bloomSemiJoin(big, small.select(array(col("k2")).as("k2")), "k", "k2"))
  }

  test("upsert: source wins on shared keys, target survives, new keys insert") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "tag", "v")
    val source = Seq((2L, "B2", 99.0), (9L, "new", 1.0)).toDF("k", "tag", "v")
    val out = Relational.upsert(target, source, Seq("k"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(out === Map(
      1L -> ("a", 10.0), 2L -> ("B2", 99.0), 3L -> ("c", 30.0), 9L -> ("new", 1.0)))
    intercept[IllegalArgumentException](
      Relational.upsert(target, source.drop("v"), Seq("k")))
  }

  private def ccMap(edges: Seq[(Long, Long)], nodes: Seq[Long] = Nil): Map[Long, Long] = {
    val e = edges.toDF("src", "dst")
    val n = if (nodes.isEmpty) None else Some(nodes.toDF("node"))
    Relational.connectedComponents(e, nodes = n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("scd2Merge: closes changed, passes unchanged, inserts new, composes day-over-day") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    def dim(rows: Seq[(Long, Double, String, String, Boolean)]) =
      rows.toDF("id", "bal", "valid_from", "valid_to", "is_current")
        .withColumn("valid_from", to_date(col("valid_from")))
        .withColumn("valid_to", to_date(col("valid_to")))
    val target = dim(Seq(
      (1L, 10.0, "2024-01-01", null, true),
      (2L, 20.0, "2024-01-01", null, true),
      (2L, 15.0, "2023-01-01", "2024-01-01", false))) // prior history
    val batch1 = Seq((1L, 11.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal")
    val day1 = Relational.scd2Merge(target, batch1, Seq("id"), Seq("bal"),
      to_date(lit("2024-06-01")))
    val rows1 = day1.orderBy("id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        String.valueOf(r.getDate(2)), String.valueOf(r.getDate(3)), r.getBoolean(4)))
    assert(rows1.toSeq === Seq(
      (1L, 10.0, "2024-01-01", "2024-06-01", false), // closed
      (1L, 11.0, "2024-06-01", "null", true),        // opened
      (2L, 15.0, "2023-01-01", "2024-01-01", false), // history untouched
      (2L, 20.0, "2024-01-01", "null", true),        // unchanged current
      (3L, 30.0, "2024-06-01", "null", true)))       // insert
    // composition: a second batch on day1's output chains versions
    val batch2 = Seq((1L, 12.0)).toDF("id", "bal")
    val day2 = Relational.scd2Merge(day1, batch2, Seq("id"), Seq("bal"),
      to_date(lit("2024-09-01")))
    val v1 = day2.filter(col("id") === 1L).orderBy("valid_from").collect()
    assert(v1.length === 3)
    assert(v1.map(_.getBoolean(4)).toSeq === Seq(false, false, true))
    assert(String.valueOf(v1(1).getDate(3)) === "2024-09-01")
    // at most one current row per key
    val curCounts = day2.filter(col("is_current")).groupBy("id").count().collect()
    assert(curCounts.forall(_.getLong(1) === 1L))
  }

  test("applyCdc: deletes drop, updates replace, inserts add, untouched survive") {
    import org.apache.spark.sql.functions.col
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changes = Seq(("D", 2L, "b"), ("U", 3L, "c2"), ("I", 4L, "d"))
      .toDF("op", "id", "v")
    val out = Relational.applyCdc(target, changes, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "a"), (3L, "c2"), (4L, "d")))
    // column-set mismatch is rejected up front
    intercept[IllegalArgumentException](
      Relational.applyCdc(target, Seq(("I", 9L)).toDF("op", "id"), Seq("id")))
  }

  test("applyCdc/scd2Merge: validate=true fails loudly on duplicate keys") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val dupChanges = Seq(("U", 1L, "x"), ("D", 1L, "a"), ("I", 3L, "c"))
      .toDF("op", "id", "v")
    // default: precondition is the caller's problem — no error, dup rows out
    assert(Relational.applyCdc(target, dupChanges, Seq("id")).count() === 3)
    // opt-in: first duplicate fails the job with a message naming the key
    val e = intercept[Exception] {
      Relational.applyCdc(target, dupChanges, Seq("id"), validate = true).count()
    }
    assert(e.getMessage.contains("duplicate key") && e.getMessage.contains("1"))
    // a clean batch under validate=true matches the unvalidated result
    val clean = Seq(("U", 1L, "x"), ("I", 3L, "c")).toDF("op", "id", "v")
    val a = Relational.applyCdc(target, clean, Seq("id")).orderBy("id").collect()
    val b = Relational.applyCdc(target, clean, Seq("id"), validate = true)
      .orderBy("id").collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)

    val dim = Seq((1L, 10.0, "2024-01-01", null.asInstanceOf[String], true))
      .toDF("id", "bal", "valid_from", "valid_to", "is_current")
      .withColumn("valid_from", to_date(col("valid_from")))
      .withColumn("valid_to", to_date(col("valid_to")))
    val dupSrc = Seq((1L, 11.0), (1L, 12.0)).toDF("id", "bal")
    val e2 = intercept[Exception] {
      Relational.scd2Merge(dim, dupSrc, Seq("id"), Seq("bal"),
        to_date(lit("2024-06-01")), validate = true).count()
    }
    assert(e2.getMessage.contains("duplicate key"))
  }

  test("sequenceMatch: earliest-greedy chain, strict ordering, within bound") {
    import org.apache.spark.sql.functions.{col, expr}
    val ev = Seq(
      // user 1: A@1, B@2, C@3 → full chain
      (1L, "A", 1L), (1L, "B", 2L), (1L, "C", 3L),
      // user 2: B before A only → no chain (B must be AFTER the first A)
      (2L, "B", 1L), (2L, "A", 2L), (2L, "C", 3L),
      // user 3: chain completes but outside the within bound
      (3L, "A", 1L), (3L, "B", 2L), (3L, "C", 100L),
      // user 4: greedy takes EARLIEST B after A (ts=2), then first C after it
      (4L, "A", 1L), (4L, "B", 2L), (4L, "B", 5L), (4L, "C", 4L))
      .toDF("user_id", "etype", "t")
      .withColumn("ts", expr("timestamp_seconds(t)"))
    val out = Relational.sequenceMatch(ev, "user_id", "ts",
      steps = Seq(col("etype") === "A", col("etype") === "B", col("etype") === "C"),
      within = Some(expr("INTERVAL 10 SECONDS")))
      .orderBy("user_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 4L))
    // user 2's C@3 exists but no B follows A@2 → correctly absent;
    // user 4: B@2 chosen greedily, C@4 > B@2 completes at 4
    val u4 = out.find(_.getLong(0) == 4L).get
    assert(u4.getTimestamp(2).getTime === 2000L && u4.getTimestamp(3).getTime === 4000L)
  }

  test("zscoreOutliers: flags exactly the >3-sigma rows of a crafted group") {
    import org.apache.spark.sql.functions.col
    // 99 values of 100 plus one 200: mean≈101, s≈10 → 200 is ~9.9σ out
    val rows = (1 to 99).map(i => (i.toLong, "g", 100L)) :+ (100L, "g", 200L)
    val df = rows.toDF("id", "grp", "v")
    val out = Relational.zscoreOutliers(df, "v", Seq("grp"), sigmas = 3)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(out === Seq(100L))
    // sigma large enough → nothing flagged
    assert(Relational.zscoreOutliers(df, "v", Seq("grp"), sigmas = 12).count() === 0)
  }

  test("mergeAggStates: merged partial states equal the full recompute") {
    import org.apache.spark.sql.functions.col
    val data = Seq((1L, 10L), (1L, 20L), (2L, 5L), (2L, 7L), (3L, 1L))
      .toDF("k", "v")
    val s1 = Relational.aggState(data.filter(col("v") < 10), col("v"), Seq("k"))
    val s2 = Relational.aggState(data.filter(col("v") >= 10), col("v"), Seq("k"))
    val merged = Relational.mergeAggStates(Seq(s1, s2), Seq("k"))
    val direct = Relational.aggState(data, col("v"), Seq("k"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
  }

  test("fuzzyJoinEd1: finds all distance<=1 pairs, rejects distance-2 collisions") {
    import org.apache.spark.sql.functions.col
    val l = Seq("cat", "dog", "bird", "x").toDF("a")
    val r = Seq("cat",   // equal → match cat
      "cart",            // insertion vs cat → match
      "dig",             // substitution vs dog → match
      "birds",           // insertion vs bird → match
      "ab",              // "x" vs "ab": distance 2, but deletion variants
                         // ("a","b") meet x's variant ""? no — must NOT match
      "y"                // substitution vs x → match
    ).toDF("b")
    val out = Relational.fuzzyJoinEd1(l, r, "a", "b")
      .select(col("a"), col("b")).collect().map(t => (t.getString(0), t.getString(1))).toSet
    assert(out === Set(("cat", "cat"), ("cat", "cart"), ("dog", "dig"),
      ("bird", "birds"), ("x", "y")))
    // blocking completeness vs brute force on a denser set
    val names = (0 until 30).map(i => s"name$i")
    val dirty = names.map(n => n.dropRight(1)) // one deletion each
    val got = Relational.fuzzyJoinEd1(names.toDF("a"), dirty.toDF("b"), "a", "b")
      .select(col("a"), col("b")).collect().map(t => (t.getString(0), t.getString(1))).toSet
    val brute = (for { a <- names; b <- dirty
      if org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
        .apply(a, b) <= 1 } yield (a, b)).toSet
    assert(got === brute)
  }

  bothPathsTest("connectedComponents: path graph collapses to the min node") {
    // reversed path 5-4-3-2-1: relaxation alone needs diameter rounds;
    // jumping gets there in O(log)
    val m = ccMap(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)))
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  bothPathsTest("connectedComponents: bridge node with the largest id (pointer-jump-only counterexample)") {
    // 1–9, 2–9: node 2's only neighbor is larger, so a min-partner pointer
    // forest loses the 2–9 edge; edge relaxation must carry 1 across
    val m = ccMap(Seq((1L, 9L), (2L, 9L)))
    assert(m === Map(1L -> 1L, 2L -> 1L, 9L -> 1L))
  }

  bothPathsTest("connectedComponents: multiple components, isolated nodes, self-loops") {
    val m = ccMap(
      Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 30L)),
      nodes = Seq(10L, 11L, 12L, 20L, 21L, 30L, 40L))
    assert(m === Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 40L -> 40L))
  }

  bothPathsTest("connectedComponents matches union-find on random graphs (universe ⊃ endpoints)") {
    // Randomized equivalence vs a local union-find, exercising the
    // edge-induced-subgraph iteration: most of the node universe never
    // touches an edge and must come back as singletons from the restore
    // join, while the labeled subgraph must agree with the brute answer.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val universe = (1L to (n * 3).toLong)
      val edges = Seq.fill(n / 2)(
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
      val parent = scala.collection.mutable.Map(universe.map(x => x -> x): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = universe.map(x => x -> find(x)).toMap
      val got = ccMap(edges, nodes = universe)
      assert(got === want, s"trial $trial: edges=$edges")
    }
  }

  bothPathsTest("connectedComponents: self-loop-only node survives without an explicit node list") {
    // 30's only edge is the self-loop — it must appear as its own singleton
    // component even when the universe is derived from the edges alone
    val m = ccMap(Seq((1L, 2L), (30L, 30L)))
    assert(m === Map(1L -> 1L, 2L -> 1L, 30L -> 30L))
  }

  bothPathsTest("connectedComponents labels string, int, decimal, binary and null ids alike") {
    // every id type the loop accepts, compared by Catalyst's ordering:
    // "b" < "bb" < "c", and the null endpoint is a (null, null) row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until r.length).map(r.get(_) match {
        case b: Array[Byte] => b.toSeq
        case v => v
      })).toSet
    val strs = Seq(("c", "bb"), ("bb", "b"), ("x", "x"), ("y", null))
      .toDF("src", "dst")
    assert(rows(Relational.connectedComponents(strs)) === Set(
      Seq("b", "b"), Seq("bb", "b"), Seq("c", "b"), Seq("x", "x"),
      Seq("y", "y"), Seq(null, null)))
    val ints = Seq((3, 2), (2, 7), (9, 8)).toDF("src", "dst")
    assert(rows(Relational.connectedComponents(ints, nodes = Some(Seq(1L).toDF("n")))) ===
      Set(Seq(1L, 1L), Seq(2L, 2L), Seq(3L, 2L), Seq(7L, 2L), Seq(8L, 8L), Seq(9L, 8L)))
    val decs = Seq(("10.50", "2.25"), ("2.25", "3.00")).toDF("src", "dst")
      .select(col("src").cast("decimal(6,2)"), col("dst").cast("decimal(6,2)"))
    assert(rows(Relational.connectedComponents(decs)).map(_.map(_.toString)) === Set(
      Seq("2.25", "2.25"), Seq("3.00", "2.25"), Seq("10.50", "2.25")))
    val bins = Seq(("b", "a"), ("c", "d")).toDF("src", "dst")
      .select(col("src").cast("binary"), col("dst").cast("binary"))
    assert(rows(Relational.connectedComponents(bins)) === Set("a" -> "a", "b" -> "a",
      "c" -> "c", "d" -> "c").map { case (n, c) => Seq(n.getBytes.toSeq, c.getBytes.toSeq) })
  }

  test("connectedComponents releases caches even when it fails to converge") {
    // only the loop has rounds to run out of: union-find always converges
    withBroadcastThreshold(-1) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val chain = (1L to 64L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("src", "dst")
      intercept[IllegalArgumentException](
        Relational.connectedComponents(chain, maxRounds = 1))
      val retained = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(retained.isEmpty, s"leaked caches: $retained")
    }
  }

  bothPathsTest("connectedComponents releases every working cache") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Relational.connectedComponents(
      (1L to 64L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("src", "dst"))
    assert(out.count() === 64)
    assert(out.collect().forall(_.getLong(1) == 1L))
    val retained = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(retained.size <= 1, s"leaked caches: $retained") // the result checkpoint
  }

  test("connectedComponents takes the driver path exactly up to the broadcast threshold") {
    // 4 edges both ways + one self-loop: 9 distinct bigint rows of
    // 8 + 8 + 8 estimated bytes each, so 216 bytes fit and 215 do not
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (30L, 30L)).toDF("src", "dst")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 30L -> 30L)
    def run(t: Long) = withBroadcastThreshold(t)(jobsUnderGroup(
      Relational.connectedComponents(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
    val (atCap, driverJobs) = run(216)
    val (overCap, loopJobs) = run(215)
    assert(atCap === want && overCap === want)
    // driver path: the bounded collect (its shuffle map stage and two
    // partition scans) and the caller's collect; the loop adds its start
    // count, two rounds of joins and the restore checkpoint on top
    assert(driverJobs <= 4, s"driver path ran $driverJobs jobs")
    assert(loopJobs >= 20, s"loop path ran $loopJobs jobs")
  }

  test("iterative queries build and collect in pinned job counts every time") {
    // (build jobs, collect jobs) over registered sf0.001 tables, where
    // every one of these queries takes its operator's driver path; the
    // loop built op_graph_pagerank in 30 jobs and each BPE query in 46,
    // and the Spark path of the similarity join built
    // llm_dedup_cluster_stats in 8 and llm_dedup_minhash_ml in 16.
    // The driver paths return their local relations uncheckpointed
    // (op_graph_components keeps its checkpoint of the join to `nodes`),
    // and BPE's bounded collect reads its vocab collapse unmaterialized.
    // Registered tables hand `Tables.load` its schema, so no
    // footer-inference job counts, whatever ran earlier in this JVM.
    val pins = Seq(
      "op_graph_components" -> (6, 3),
      "op_graph_pagerank" -> (2, 3),
      "llm_bpe_learn" -> (2, 3),
      "llm_bpe_pipeline" -> (2, 7),
      "llm_dedup_cluster_stats" -> (3, 5),
      "llm_dedup_minhash_ml" -> (10, 13))
    // the ceiling a driver path must keep its build under
    val buildCeiling = Set("op_graph_pagerank", "llm_bpe_learn", "llm_bpe_pipeline")
    val (s, dir) = (spark.newSession(), "/root/testdata/sf0.001")
    graft.Tables.register(s, dir)
    val got = pins.map { case (q, _) =>
      q -> (1 to 3).map { _ =>
        val (df, build) = jobsUnderGroup(graft.SparkEntry.queries(q)(s, dir))
        (build, jobsUnderGroup(df.collect())._2)
      }
    }
    assert(got === pins.map { case (q, want) => q -> Seq.fill(3)(want) })
    pins.filter(p => buildCeiling(p._1)).foreach { case (q, (build, _)) =>
      assert(build <= 5, s"$q builds in $build jobs")
    }
  }

  test("on a 16-partition session the loops build and collect in pinned job counts at full width") {
    // (build jobs, collect jobs) over registered sf0.001 tables with the
    // threshold at -1, so every query below runs its operator's loop. A
    // shuffle width scoped to counted rows built them in 65, 31 and 48
    // jobs: its sizing counts, at a width of 4.
    val pins = Seq(
      "op_graph_components" -> (63, 3),
      "op_graph_pagerank" -> (30, 3),
      "llm_bpe_learn" -> (46, 3))
    val (s, dir) = (spark.newSession(), "/root/testdata/sf0.001")
    s.conf.set("spark.sql.shuffle.partitions", "16")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    graft.Tables.register(s, dir)
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.shuffle.partitions")))
          .foreach(widths.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val got = try pins.map { case (q, _) =>
      q -> (1 to 2).map { _ =>
        val (df, build) = jobsUnderGroup(graft.SparkEntry.queries(q)(s, dir))
        (build, jobsUnderGroup(df.collect())._2)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    // every job that reports a width runs at the session's 16
    assert(widths.asScala.toSet === Set("16"))
    assert(got === pins.map { case (q, want) => q -> Seq.fill(2)(want) })
  }

  test("snapshotDiff classifies added/removed/changed and hides unchanged") {
    val a = Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "z", 30L),
      (4L, null.asInstanceOf[String], 40L)).toDF("k", "s", "v")
    val b = Seq((2L, "y", 20L), (3L, "z", 99L), (5L, "w", 50L),
      (4L, null.asInstanceOf[String], 40L)).toDF("k", "s", "v")
    val got = Relational.snapshotDiff(a, b, Seq("k"))
      .select("k", "change_type").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // key 2 identical and key 4 identical-with-null are both suppressed
    assert(got === Map(1L -> "removed", 3L -> "changed", 5L -> "added"))
    val withSame = Relational.snapshotDiff(a, b, Seq("k"), includeUnchanged = true)
    assert(withSame.count() === 5)
    assert(withSame.filter(col("change_type") === "unchanged").count() === 2)
  }

  test("snapshotDiff on identical snapshots is empty") {
    val a = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    assert(Relational.snapshotDiff(a, a, Seq("k")).isEmpty)
  }

  test("interpolateLinear brackets interior gaps and carries edges") {
    // x: 0..5, known at 1 (100) and 4 (400); edges carry, interior is linear
    val df = Seq(
      (0L, null.asInstanceOf[java.lang.Long]), (1L, java.lang.Long.valueOf(100L)),
      (2L, null.asInstanceOf[java.lang.Long]), (3L, null.asInstanceOf[java.lang.Long]),
      (4L, java.lang.Long.valueOf(400L)), (5L, null.asInstanceOf[java.lang.Long])
    ).toDF("x", "v")
    val got = Relational.interpolateLinear(df, "x", "v", globalWindowOk = true)
      .orderBy("x").select("v_interp").collect().map(_.getLong(0))
    assert(got.toSeq === Seq(100L, 100L, 200L, 300L, 400L, 400L))
  }

  test("interpolateLinear refuses the global-window path unless opted in") {
    val df = Seq((0L, java.lang.Long.valueOf(1L))).toDF("x", "v")
    val e = intercept[IllegalArgumentException] {
      Relational.interpolateLinear(df, "x", "v")
    }
    assert(e.getMessage.contains("globalWindowOk"))
    // a keyed series needs no opt-in — the window shuffles on the key
    val keyed = Seq(("a", 0L, java.lang.Long.valueOf(1L)),
      ("a", 1L, null.asInstanceOf[java.lang.Long]),
      ("a", 2L, java.lang.Long.valueOf(3L))).toDF("k", "x", "v")
    val got = Relational.interpolateLinear(keyed, "x", "v", Seq("k"))
      .orderBy("x").select("v_interp").collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1L, 2L, 3L))
  }

  test("merged distinct sketches track exact and the single-pass estimate") {
    val orders = graft.Tables.load(spark, "/root/testdata/sf0.01", "orders")
      .select(col("o_orderpriority"), col("o_custkey"), col("o_orderdate"))
    val halves = Seq(
      orders.filter(col("o_orderdate") < "1997-01-01"),
      orders.filter(col("o_orderdate") >= "1997-01-01"))
      .map(h => Relational.distinctSketchState(h, col("o_custkey"), Seq("o_orderpriority")))
    val merged = Relational.mergeDistinctSketches(halves, Seq("o_orderpriority"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_distinct_approx")).toMap
    val onePass = Relational.mergeDistinctSketches(
      Seq(Relational.distinctSketchState(orders, col("o_custkey"), Seq("o_orderpriority"))),
      Seq("o_orderpriority"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_distinct_approx")).toMap
    val exact = orders.groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the merged state keeps the sketch's accuracy bound: within 5% of
    // exact AND of the single-pass build (register encodings may differ
    // after sparse/dense promotion, so bit-identity is NOT the contract)
    exact.foreach { case (p, e) =>
      assert(math.abs(merged(p) - e).toDouble / e < 0.05,
        s"$p: merged ${merged(p)} vs exact $e")
      assert(math.abs(merged(p) - onePass(p)).toDouble / onePass(p) < 0.05,
        s"$p: merged ${merged(p)} vs single-pass ${onePass(p)}")
    }
  }

  bothPathsTest("pageRank matches a single-machine integer reference on a known graph") {
    import spark.implicits._
    // star-ish graph with a cycle and a dangling node (4 has no out-edges)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 4L))
    val got = Relational.pageRank(edges.toDF("src", "dst"), iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // reference: same fold, plain Scala longs
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val base = 1000000000L / nodes.size
    var r = nodes.map(_ -> base).toMap
    for (_ <- 1 to 4) {
      val in = nodes.map { v =>
        v -> out.collect { case (u, ds) if ds(v) => r(u) / ds.size }.sum
      }.toMap
      r = nodes.map(v => v -> (15L * base + 85L * in(v)) / 100L).toMap
    }
    assert(got === r)
    // mass is conserved up to truncation + the dropped dangling share
    assert(got.values.sum <= 1000000000L && got.values.sum > 0L)
  }

  bothPathsTest("pageRank is deterministic under repartitioning") {
    import spark.implicits._
    val e = (1 to 400).map(i => ((i * 7 % 53).toLong, (i * 11 % 53).toLong))
    val a = Relational.pageRank(e.toDF("src", "dst"), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val b = Relational.pageRank(e.toDF("src", "dst").repartition(13), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(a === b)
  }

  bothPathsTest("pageRank releases every working cache") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Relational.pageRank(
      (1L to 64L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("src", "dst"))
    assert(out.count() === 64)
    val retained = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(retained.size <= 1, s"leaked caches: $retained") // the result checkpoint
  }

  bothPathsTest("pageRank releases caches even when a round fails") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // two nodes put the start mass at Long.MaxValue / 2, so the first
    // round's damping fold overflows (ANSI arithmetic) with every working
    // cache and both rank caches held
    val e = intercept[Exception](Relational.pageRank(
      Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), scale = Long.MaxValue))
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"), e.getMessage)
    val retained = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(retained.isEmpty, s"leaked caches: $retained")
  }

  bothPathsTest("pageRank ranks string, int, decimal, binary and null ids alike") {
    // a->b, b->a, a->c, null->a, c->null over four nodes (null counts):
    // the null src sends nothing and the null dst keeps nothing, so two
    // rounds of the fold give a, b, c and null these ranks
    val letters = Seq(("a", "b"), ("b", "a"), ("a", "c"), (null, "a"), ("c", null))
    val want = Map("a" -> 159687500L, "b" -> 143750000L, "c" -> 143750000L)
    def ranks(ids: Map[String, String], t: String) = {
      val e = letters.map { case (a, b) => (ids.getOrElse(a, null), ids.getOrElse(b, null)) }
        .toDF("src", "dst").select(col("src").cast(t), col("dst").cast(t))
      Relational.pageRank(e, iterations = 2).collect().map(r => (r.get(0) match {
        case b: Array[Byte] => new String(b)
        case v => if (v == null) null else v.toString
      }) -> r.getLong(1)).toMap
    }
    def expect(ids: Map[String, String]) =
      want.map { case (k, v) => ids(k) -> v } + ((null: String) -> 37500000L)
    val types = Seq(
      "string" -> Map("a" -> "a", "b" -> "b", "c" -> "c"),
      "int" -> Map("a" -> "3", "b" -> "1", "c" -> "2"),
      "decimal(6,2)" -> Map("a" -> "10.50", "b" -> "2.25", "c" -> "3.00"),
      "binary" -> Map("a" -> "x", "b" -> "y", "c" -> "z"))
    types.foreach { case (t, ids) => assert(ranks(ids, t) === expect(ids), t) }
  }

  bothPathsTest("pageRank on an empty edge list returns an empty rank frame") {
    val out = Relational.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(out.columns.toSeq === Seq("node", "rank_ppb"))
    assert(out.collect().isEmpty)
  }

  test("pageRank takes the driver path exactly up to the broadcast threshold") {
    // 6 distinct bigint edges of 8 + 8 + 8 estimated bytes each, so 144
    // bytes fit and 143 do not
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 4L), (3L, 4L))
      .toDF("src", "dst")
    def run(t: Long) = withBroadcastThreshold(t)(jobsUnderGroup(
      Relational.pageRank(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
    val (atCap, driverJobs) = run(144)
    val (overCap, loopJobs) = run(143)
    assert(atCap === overCap)
    // driver path: the bounded collect (its shuffle map stage and a
    // partition scan) and the caller's collect; the loop adds its node
    // and start counts, three rounds of joins and the ranks' checkpoint
    assert(driverJobs <= 4, s"driver path ran $driverJobs jobs")
    assert(loopJobs >= 15, s"loop path ran $loopJobs jobs")
  }

  test("pageRank wraps alike on both paths in a non-ANSI session") {
    // the start mass of two nodes at scale Long.MaxValue overflows the
    // fold, which an ANSI session raises; without ANSI both paths wrap
    // as Scala's Long arithmetic does
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    Tuning.withSqlConf(spark, "spark.sql.ansi.enabled" -> "false") {
      def ranks() = Relational.pageRank(edges, scale = Long.MaxValue)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val base = Long.MaxValue / 2
      var r = base
      for (_ <- 1 to 3) r = (15L * base + 85L * r) / 100L
      val driver = ranks()
      assert(driver === Map(1L -> r, 2L -> r))
      assert(withBroadcastThreshold(-1)(ranks()) === driver)
    }
  }

  test("sketchIntersectionEstimate tracks the exact period overlap") {
    val orders = graft.Tables.load(spark, "/root/testdata/sf0.01", "orders")
      .select(col("o_orderpriority"), col("o_custkey"), col("o_orderdate"))
    val early = orders.filter(col("o_orderdate") < "1996-01-01")
    val late = orders.filter(col("o_orderdate") >= "1996-01-01")
    val got = Relational.sketchIntersectionEstimate(
      Relational.distinctSketchState(early, col("o_custkey"), Seq("o_orderpriority")),
      Relational.distinctSketchState(late, col("o_custkey"), Seq("o_orderpriority")),
      Seq("o_orderpriority"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_intersect_approx")).toMap
    val exact = early.select(col("o_orderpriority"), col("o_custkey")).distinct()
      .intersect(late.select(col("o_orderpriority"), col("o_custkey")).distinct())
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // well-conditioned case (overlap is a large share of the union):
    // inclusion-exclusion stacks three estimates, so allow 10%
    exact.foreach { case (p, e) =>
      assert(math.abs(got(p) - e).toDouble / e < 0.10,
        s"$p: estimated ${got(p)} vs exact $e")
    }
  }

  test("merged distinct bitmaps equal exact COUNT(DISTINCT)") {
    val orders = graft.Tables.load(spark, "/root/testdata/sf0.01", "orders")
      .select(col("o_orderpriority"), col("o_custkey"), col("o_orderdate"))
    val thirds = Seq(
      orders.filter(col("o_orderdate") < "1995-01-01"),
      orders.filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1997-01-01"),
      orders.filter(col("o_orderdate") >= "1997-01-01"))
      .map(h => Relational.distinctBitmapState(h, col("o_custkey"), Seq("o_orderpriority")))
    val merged = Relational.mergeDistinctBitmaps(thirds, Seq("o_orderpriority"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    val exact = orders.groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === exact) // bitmap OR loses nothing — equality, not a bound
  }

  test("checkConstraints counts violations with SQL null semantics") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a"), Some(10.0)),
      (Some(2L), Some("b"), Some(500.0)), // out of range
      (Some(2L), Some("zz"), None), // dup key; bad set value; null value ok
      (None, Some("a"), Some(20.0)) // null key
    ).toDF("k", "s", "v")
    val ref = Seq(1L, 3L).toDF("rk")
    val got = Relational.checkConstraints(df, Seq(
      Relational.NotNull("k"),
      Relational.UniqueKey(Seq("k")),
      Relational.InRange("v", lit(0.0), lit(100.0)),
      Relational.InSet("s", Seq("a", "b")),
      Relational.RefIntegrity("k", ref, "rk", "ref.rk")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got("not_null(k)") === ((1L, 4L, false)))
    // 3 non-null-key rows, 2 distinct → 1 excess
    assert(got("unique(k)") === ((1L, 4L, false)))
    // NULL v does NOT violate the range; 500.0 does
    assert(got("in_range(v)") === ((1L, 4L, false)))
    assert(got("in_set(s)") === ((1L, 4L, false)))
    // non-null keys {1,2,2}; 2 ∉ ref → 2 violating rows
    assert(got("ref(k->ref.rk)") === ((2L, 4L, false)))
  }

  test("checkConstraints on clean and empty input") {
    import spark.implicits._
    val clean = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val ok = Relational.checkConstraints(clean, Seq(
      Relational.NotNull("k"), Relational.UniqueKey(Seq("k"))))
      .collect()
    assert(ok.forall(_.getBoolean(3)))
    val empty = Relational.checkConstraints(clean.filter(col("k") < 0L), Seq(
      Relational.NotNull("k"))).collect()
    assert(empty.head.getLong(1) === 0L && empty.head.getLong(2) === 0L &&
      empty.head.getBoolean(3))
  }

  test("interpolateLinear floors non-integral interpolants deterministically") {
    val df = Seq(
      (0L, java.lang.Long.valueOf(0L)), (1L, null.asInstanceOf[java.lang.Long]),
      (2L, null.asInstanceOf[java.lang.Long]), (3L, java.lang.Long.valueOf(10L))
    ).toDF("x", "v")
    val got = Relational.interpolateLinear(df, "x", "v", globalWindowOk = true)
      .orderBy("x").select("v_interp").collect().map(_.getLong(0))
    assert(got.toSeq === Seq(0L, 3L, 6L, 10L)) // floor(10/3), floor(20/3)
  }

  test("prorate: allocations sum to the exact total, largest remainders win") {
    // total 100 over weights 1,1,1: floors 33 each, leftover 1; equal
    // remainders tie-break by order asc → row 1 gets it → 34/33/33
    val df = Seq((1L, 1, 1L, 100L), (1L, 2, 1L, 100L), (1L, 3, 1L, 100L),
      // uneven weights: total 101 over 2,3,5 → floors 20,30,50, leftover 1
      // remainders 2,3,5 → row 3 wins → 20,30,51
      (2L, 1, 2L, 101L), (2L, 2, 3L, 101L), (2L, 3, 5L, 101L),
      // zero weight sum → degenerate: all allocations 0, no phantom units
      (3L, 1, 0L, 7L))
      .toDF("grp", "ord", "w", "total")
    val out = Relational.prorate(df, Seq("grp"), "w", "total", "ord",
      validate = true)
      .orderBy("grp", "ord").select("alloc").collect().map(_.getLong(0))
    assert(out.toSeq === Seq(34L, 33L, 33L, 20L, 30L, 51L, 0L))
    // per-group conservation for the positive-weight groups
    val sums = Relational.prorate(df, Seq("grp"), "w", "total", "ord")
      .groupBy("grp").agg(sum("alloc").as("s"), first("total").as("t"))
      .filter(col("grp") < 3L).collect()
    assert(sums.forall(r => r.getLong(1) === r.getLong(2)))
    // validation trips on non-constant total
    val bad = Seq((1L, 1, 1L, 100L), (1L, 2, 1L, 99L)).toDF("grp", "ord", "w", "total")
    intercept[IllegalArgumentException] {
      Relational.prorate(bad, Seq("grp"), "w", "total", "ord", validate = true)
    }
  }

  test("coOccurrencePairs: counts, lift, and duplicate-row immunity") {
    // baskets: {A,B}, {A,B}, {A,C}, {B} over 4 groups; row duplication in
    // group 1 must not inflate counts (distinct first)
    val rows = Seq((1L, "A"), (1L, "B"), (1L, "A"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"), (4L, "B"))
    val df = rows.toDF("g", "item")
    val out = Relational.coOccurrencePairs(df, "g", "item")
      .orderBy("item_a", "item_b").collect()
    val byPair = out.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(5), r.getLong(6))).toMap
    // A∧B in 2 of 4 groups; n_A=3, n_B=3 → lift = 2·4·1e6/9 = 888888
    assert(byPair(("A", "B")) === (2L, 4L, 888888L))
    // A∧C in 1; n_C=1 → lift = 1·4·1e6/3 = 1333333 (> 1e6: associated)
    assert(byPair(("A", "C")) === (1L, 4L, 1333333L))
    assert(!byPair.contains(("B", "C")))
  }

  test("distributionDrift: ppm shares, signed delta, one-sided keys survive") {
    val a = (Seq.fill(3)("x") ++ Seq.fill(1)("y")).toDF("k") // x 75%, y 25%
    val b = (Seq.fill(1)("x") ++ Seq.fill(3)("z")).toDF("k") // x 25%, z 75%
    val out = Relational.distributionDrift(a, b, "k")
      .orderBy("k").collect()
    val m = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m("x") === (750000L, 250000L, 500000L))
    assert(m("y") === (250000L, 0L, 250000L)) // only in a: b share 0
    assert(m("z") === (0L, 750000L, -750000L)) // only in b
    // chi2 contribution for x: (5e5)²·1e6 div 25e4 = 1e12 div 25e4·1e6
    val chiX = out.find(_.getString(0) == "x").get.getLong(4)
    assert(chiX === 500000L * 500000L * 1000000L / 250000L)
    // z has share_b > 0 → defined; y expected-zero → null
    assert(out.find(_.getString(0) == "y").get.isNullAt(4))
  }

  test("winsorize clamps to discrete percentile bounds, interior untouched") {
    // values 1..100 in one group: p05 = 5, p95 = 95 (discrete percentiles
    // are actual data values)
    val df = (1 to 100).map(i => (i.toLong, "g", i.toLong)).toDF("id", "grp", "v")
    val out = Relational.winsorize(df, "v", Seq("grp"))
      .orderBy("id").select("v_w").collect().map(_.getLong(0))
    assert(out.take(5).toSeq === Seq(5L, 5L, 5L, 5L, 5L))
    assert(out.drop(95).toSeq === Seq(95L, 95L, 95L, 95L, 95L))
    assert(out(49) === 50L) // interior values pass through
    intercept[IllegalArgumentException] {
      Relational.winsorize(df, "v", Seq("grp"), loPct = 0.9, hiPct = 0.1)
    }
  }

  test("asOfSnapshot returns each key's latest pre-cutoff row with tie-break") {
    val hist = Seq(
      (1L, 10L, 101L, "a"), (1L, 20L, 102L, "b"), (1L, 30L, 103L, "c"),
      // key 2: tie on time 20 → higher seq wins
      (2L, 20L, 201L, "x"), (2L, 20L, 202L, "y"),
      // key 3: nothing at or before the cutoff
      (3L, 99L, 301L, "z"))
      .toDF("k", "t", "seq", "payload")
    val out = Relational.asOfSnapshot(hist, Seq("k"), "t", lit(25L), "seq")
      .orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out(0).getAs[String]("payload") === "b") // t=20 beats t=10, t=30 excluded
    assert(out(1).getAs[String]("payload") === "y") // seq 202 wins the tie
  }

  test("madOutliers: single extreme value cannot mask itself") {
    // 9 values at 100 ± small noise plus one at 10000. Mean/σ would be
    // dragged; median=100, MAD is tiny, so the extreme row flags.
    val rows = Seq(98L, 99L, 100L, 100L, 100L, 100L, 101L, 101L, 102L, 10000L)
      .zipWithIndex.map { case (v, i) => (i.toLong, "g", v) }
    val df = rows.toDF("id", "grp", "v")
    val out = Relational.madOutliers(df, "v", Seq("grp"), k = 3)
      .select("id", "med", "mad").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(9L))
    assert(out.head.getLong(1) === 100L && out.head.getLong(2) === 1L)
    // constant-valued group: MAD 0 → any deviation flags, none exists
    val const = (1 to 5).map(i => (i.toLong, "c", 42L)).toDF("id", "grp", "v")
    assert(Relational.madOutliers(const, "v", Seq("grp")).count() === 0)
  }

  test("profileApprox: no Expand in the plan (the exact tier's multiplier), sane estimates") {
    val df = (1 to 2000).map(i => (i.toLong, s"s${i % 7}")).toDF("id", "tag")
    // the EXACT tier's multi-countDistinct plans an Expand; the approx
    // tier must not — that is the entire point of the sketch path
    val exactPlan = Relational.profile(df).queryExecution.executedPlan.toString
    val approxPlan = Relational.profileApprox(df).queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"))
    assert(!approxPlan.contains("Expand"))
    val rows = Relational.profileApprox(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows("id")._1 === 0L && rows("tag")._1 === 0L)
    assert(rows("tag")._2 === 7L)                       // tiny card: exact
    assert(math.abs(rows("id")._2 - 2000L) <= 100L)     // rsd 2% on 2000
  }
}
