package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress probe — `sbt "runMain graft.StressCheck [factor]"`.
  *
  * Reads sf0.1 and self-unions the fact tables `factor`× (default 10 →
  * 6M lineitem rows) to observe how the headline plans behave one order
  * of magnitude past the bench scale: per-query wall time should grow
  * ~linearly (scan/agg) or ~n log n (shuffle joins), dim joins must stay
  * broadcast, and nothing should collect to the driver. This is the
  * "would the plan survive a scale-up" check from SCALE.md, executable.
  */
object StressCheck {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val dir = "/root/testdata/sf0.1"
    val spark = Session.getOrCreate()

    def amplify(df: DataFrame): DataFrame =
      (1 until factor).foldLeft(df)((acc, _) => acc.union(df))

    val li = amplify(Tables.load(spark, dir, "lineitem"))
    val ord = amplify(Tables.load(spark, dir, "orders"))
    val cust = Tables.load(spark, dir, "customer")
    val supp = Tables.load(spark, dir, "supplier")
    val nat = Tables.load(spark, dir, "nation")

    def timeIt(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"STRESS $name rows=$n%d ${secs}%.2fs")
    }

    println(s"STRESS factor=$factor lineitem=${li.count()}")
    timeIt("q1_shape_agg") {
      li.filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(floor(col("l_quantity") * 100).cast("long")).as("s"),
          count(lit(1)).as("n"))
    }
    timeIt("join_fact_dim_agg") {
      li.join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("rev"))
    }
    timeIt("join_fact_fact") {
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
    }
    timeIt("topk") {
      ord.orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    }
    // DISTINCT TOP PERCENT scale plan (r18): the distinct shuffle is
    // computed ONCE at runtime (AQE stage reuse — PlanGateSpec pins the
    // ReusedExchange) and the exact rank window sees only the
    // pcut-pre-filtered ~n% slice of the distinct output, so wall time
    // should track the distinct aggregation, not a global sort.
    locally {
      ord.createOrReplaceTempView("orders")
      timeIt("distinct_top_percent") {
        Engine.execute(spark,
          """SELECT DISTINCT TOP 10 PERCENT o_orderkey % 100000 AS m,
            |  o_orderpriority AS p
            |FROM orders ORDER BY m, p""".stripMargin,
          dialect = Dialect.TsqlIsh)
      }
    }
    // simHash banding: candidate volume must grow ~linearly with corpus
    // size (amplified corpus = `factor` exact copies of every doc, so true
    // pairs grow ~factor²·dups but *bucket* fan-out per doc stays C(b,3);
    // compare candidate counts at 1× and factor× to see the slope).
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    // distinct ids per copy: every doc gains factor-1 exact duplicates, so
    // TRUE pairs grow ~factor²·dup-groups; the stress signal is that wall
    // time tracks that true-pair volume instead of exploding on bucket width
    val docsAmp = (0 until factor)
      .map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ union _)
    Seq("1x" -> docs, s"${factor}x" -> docsAmp).foreach { case (label, d) =>
      val t0 = System.nanoTime()
      val n = graft.llm.Dedup.simHashPairs(graft.llm.Dedup.simHash(d), maxHamming = 3).count()
      println(f"STRESS simhash_$label pairs=$n%d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // ngram-Jaccard df-capping: a stop-shingle present in every doc makes
    // the uncapped inverted-index self-join generate Σ df² ≈ n² candidate
    // rows; with maxDf the hot shingle is dropped from the index and the
    // join cost falls back to co-occurrence of the RARE shingles. Skewed
    // corpus: every doc shares one 3-gram prefix ("the quick brown ...").
    locally {
      // 6000 docs sharing two stop-shingles → 2·C(6000,2) ≈ 36M candidate
      // rows uncapped; capped pays one extra df-count shuffle instead
      val skewed = docs.limit(6000)
        .select(col("doc_id"), concat(lit("the quick brown fox "), col("text")).as("text"))
      val t0 = System.nanoTime()
      val capped = graft.llm.Dedup.ngramJaccardPairs(skewed, topK = 50, maxDf = 100).count()
      val tCap = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val uncapped = graft.llm.Dedup.ngramJaccardPairs(skewed, topK = 50).count()
      val tUncap = (System.nanoTime() - t1) / 1e9
      println(f"STRESS ngram_df_cap capped_rows=$capped%d ${tCap}%.2fs uncapped_rows=$uncapped%d ${tUncap}%.2fs")
      // prefix-filtered join on the SAME stop-shingle corpus: the
      // stop-shingles have maximal df, sort to the end of every document's
      // rarest-first order, and never enter the join — lossless pruning
      // (exact threshold-pair set) where the df cap changes the metric
      val t2 = System.nanoTime()
      val prefixed = graft.llm.Dedup
        .prefixFilteredJaccardPairs(skewed, thresholdPpm = 500000L).count()
      val tPref = (System.nanoTime() - t2) / 1e9
      println(f"STRESS ngram_prefix_filter pairs=$prefixed%d ${tPref}%.2fs (exact, vs uncapped ${tUncap}%.2fs)")
    }
    // paragraph dedup at 1x vs factor-x: the amplified corpus repeats every
    // text factor× under fresh ids, so each distinct paragraph occurs
    // factor× more often — survivors must stay EXACTLY the 1x survivor
    // count (first-occurrence keep is id-minimal, and the 1x ids are the
    // smallest), while wall time tracks the exploded row volume.
    Seq("1x" -> docs, s"${factor}x" -> docsAmp).foreach { case (label, d) =>
      val t0 = System.nanoTime()
      val out = graft.llm.Dedup.paragraphDedup(d, delim = " the ")
      val survivors = out.agg(sum(col("n_kept"))).head().getLong(0)
      println(f"STRESS paragraph_dedup_$label docs=${out.count()}%d " +
        f"paragraphs_kept=$survivors%d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // BM25 at 1x vs factor-x: postings volume for the 3 query terms grows
    // factor× (tf/df/N/A all scale), but the plan shape is fixed — one
    // postings groupBy + broadcast df/totals + global top-k — so wall time
    // must track the corpus scan, not the pairwise document count.
    Seq("1x" -> docs, s"${factor}x" -> docsAmp).foreach { case (label, d) =>
      val t0 = System.nanoTime()
      val top = graft.llm.TextAnalysis.bm25Rank(
        d, Seq("spark", "vector", "stream"), k = 10).count()
      println(f"STRESS bm25_$label topk=$top%d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // span dedup at 1x vs factor-x (hashed keys — the 100 TB path): the
    // amplified corpus repeats every text factor× under fresh larger ids,
    // so EVERY copy beyond the 1x set is fully span-duplicated; flagged
    // docs must equal (factor-1)·|docs| + the 1x flagged count, while the
    // window explode stays linear in corpus tokens.
    Seq("1x" -> docs, s"${factor}x" -> docsAmp).foreach { case (label, d) =>
      val t0 = System.nanoTime()
      val flagged = graft.llm.Dedup.spanDedup(d, window = 4, hashSpans = true)
        .filter(col("is_span_dup")).count()
      println(f"STRESS span_dedup_$label flagged=$flagged%d " +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // MinHash LSH dedup at 1x vs factor-x: the amplified corpus repeats
    // every text factor× under fresh larger ids — identical texts produce
    // identical signatures, so every copy is a guaranteed band collision
    // and joins the 1x doc's cluster; keepers (is_dup = false, min-id
    // keep — the 1x ids are the smallest) must stay EXACTLY the 1x keeper
    // count while the banded-join volume grows ~factor×. This is the
    // scale proof for the persisted-shingle single-scan pipeline.
    Seq("1x" -> docs, s"${factor}x" -> docsAmp).foreach { case (label, d) =>
      val t0 = System.nanoTime()
      val n = graft.llm.Dedup.minHashDedup(d).filter(!col("is_dup")).count()
      println(f"STRESS minhash_dedup_$label keepers=$n%d " +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // fuzzy join at scale: 100k synthetic entity names vs a one-deletion
    // perturbation of each — deletion-variant blocking explodes each side
    // ~|name| ways and equi-joins, so candidate volume tracks rows·len,
    // never the 10^10 cross product; every dirty name must match exactly
    // its source (shared prefixes stay distance ≥ 2 apart in the digits).
    locally {
      val names = spark.range(100000)
        .select(format_string("entity-%08d", col("id")).as("a"))
      val dirty = names.select(
        expr("concat(substring(a, 1, 5), substring(a, 7))").as("b"))
      val t0 = System.nanoTime()
      val n = graft.ops.Relational.fuzzyJoinEd1(names, dirty, "a", "b").count()
      println(f"STRESS fuzzy_join_100k pairs=$n%d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // near-dup decontamination: the benchmark side stays FIXED (52 prefix
    // docs) while the train side amplifies factor× — candidate volume and
    // wall time must track Σ df_train·df_bench linearly with the train
    // side, never |train|×|bench|.
    Seq("1x" -> docs, s"${factor}x" -> docsAmp).foreach { case (label, d) =>
      val bench = docs.filter(pmod(col("doc_id"), lit(97L)) === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
      val t0 = System.nanoTime()
      val n = graft.llm.Dedup.decontaminateNearDupPairs(d, bench, threshold = 0.3).count()
      println(f"STRESS decontam_neardup_$label pairs=$n%d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // connected components on long chains: amplified orders (factor×150k
    // keys) arranged into 100 paths of ~keys/100 nodes each (bucket =
    // o_orderkey % 100, linked by consecutive rank — ~1500-node chains at
    // the default factor). Relaxation alone would need ~chain-length
    // rounds; the
    // pointer-jumping acceleration must converge in ~O(log n) — wall time
    // is the proof, and per-round plan flattening keeps the driver flat.
    locally {
      import org.apache.spark.sql.expressions.Window
      val keys = ord.select(col("o_orderkey")).distinct()
        .withColumn("bucket", col("o_orderkey") % 100)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("bucket")).orderBy(col("o_orderkey"))))
      val edges = keys
        .withColumn("nxt", lead(col("o_orderkey"), 1).over(
          Window.partitionBy(col("bucket")).orderBy(col("rank"))))
        .filter(col("nxt").isNotNull)
        .select(col("o_orderkey").as("src"), col("nxt").as("dst"))
      val t0 = System.nanoTime()
      val comp = graft.ops.Relational.connectedComponents(edges)
      val nComp = comp.select(col("component")).distinct().count()
      println(f"STRESS connected_components nodes=${comp.count()}%d components=$nComp%d " +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      comp.unpersist()
    }
    // sparse closure: corpus-sized node universe, tiny edge set — the
    // dedup shape (LSH banding leaves only near-duplicate candidate
    // pairs; virtually the whole corpus is singleton). The loop iterates
    // the edge-induced subgraph only, so per-round shuffles are sized by
    // the ~300-edge pair graph while the 150k-key universe is priced
    // exactly once by the post-convergence left join — wall time must be
    // a small constant, not scale with the universe like the dense-chain
    // entry above.
    locally {
      val keys = ord.select(col("o_orderkey")).distinct()
      val edges = keys.filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey").as("src"), (col("o_orderkey") + 1).as("dst"))
      val nEdges = edges.count()
      val t0 = System.nanoTime()
      val comp = graft.ops.Relational.connectedComponents(edges, nodes = Some(keys))
      val nComp = comp.select(col("component")).distinct().count()
      println(f"STRESS sparse_closure nodes=${comp.count()}%d edges=$nEdges%d " +
        f"components=$nComp%d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // token-budget mixing at 1x vs factor-x: the two-phase plan keeps the
    // serial exact-window region bucket-sized (~corpus/permBuckets per
    // source) regardless of domain count, so wall time must track the
    // corpus scan. Invariant at both scales: Σ kept tokens per source
    // never exceeds its quota (greedy inclusive-prefix contract).
    Seq("1x" -> docs, s"${factor}x" -> docsAmp).foreach { case (label, d) =>
      val withSrc = d.withColumn("source",
        format_string("src%d", pmod(col("doc_id"), lit(5L))))
      val weights = withSrc.select(col("source")).distinct()
        .select(col("source"),
          (substring(col("source"), 4, 10).cast("long") % 4 + 1).as("w"))
      val sumw = weights.agg(sum(col("w"))).head().getLong(0) // |sources| rows
      val t0 = System.nanoTime()
      val kept = graft.llm.Mixing.mixDomainsByTokens(
        withSrc, weights, budgetTokens = 2000000L)
      val overQuota = kept
        .withColumn("__nt", size(split(col("text"), " ")).cast("long"))
        .groupBy(col("source")).agg(sum(col("__nt")).as("toks"))
        .join(weights, "source")
        .filter(col("toks") > expr(s"w * 2000000L div ${sumw}L"))
        .count()
      println(f"STRESS mix_token_budget_$label kept=${kept.count()}%d " +
        f"over_quota_sources=$overQuota%d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // corpus data card at 1x vs factor-x: the amplified corpus repeats
    // every text factor× under fresh ids — per source, n_docs scales
    // EXACTLY factor×, distinct texts stay the 1x count, and dup_ppm
    // lands at 1e6·(factor−1)/factor (integer div). The (source, md5)
    // pre-group keeps the distinct-state shuffle at one row per distinct
    // text at both scales — wall time must track the scan.
    locally {
      val srcd = (d: DataFrame) => d
        .withColumn("source", format_string("src%d", pmod(col("doc_id") % 1000000L, lit(5L))))
        .withColumn("lang", lit("en"))
      val card1 = graft.llm.TextAnalysis.corpusDataCard(srcd(docs)).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4))).toMap
      val t0 = System.nanoTime()
      val cardF = graft.llm.TextAnalysis.corpusDataCard(srcd(docsAmp)).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4), r.getLong(6)))
      val bad = cardF.count { case (s, (nd, dis, dup)) =>
        val (nd1, dis1) = card1(s)
        nd != factor * nd1 || dis != dis1 ||
          dup != 1000000L * (factor * nd1 - dis1) / (factor * nd1)
      }
      println(f"STRESS corpus_datacard_${factor}x sources=${cardF.length}%d " +
        f"invariant_violations=$bad%d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // filter funnel at factor-x: one conditional-agg pass whose counts
    // must scale EXACTLY factor× (per-row predicates are amplification-
    // invariant) — and whose output stays 4 rows at any corpus size.
    locally {
      val f1 = graft.llm.TextAnalysis.filterFunnel(docs).collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      val t0 = System.nanoTime()
      val fF = graft.llm.TextAnalysis.filterFunnel(docsAmp).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      val bad = fF.count { case (ord, nf, ns) =>
        val (nf1, ns1) = f1(ord)
        nf != factor * nf1 || ns != factor * ns1
      }
      println(f"STRESS filter_funnel_${factor}x rules=${fF.length}%d " +
        f"invariant_violations=$bad%d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // curriculum plan at factor-x: difficulty is a pure function of the
    // text, so per (source, band) min/max difficulty are amplification-
    // INVARIANT while n_docs/n_tokens scale exactly factor× — and the
    // output stays |sources|·bands rows at any corpus size (fixed-band
    // binning: no per-source sort to grow).
    locally {
      val srcd = (d: DataFrame) => d
        .withColumn("source", format_string("src%d", pmod(col("doc_id") % 1000000L, lit(5L))))
      val p1 = graft.llm.Mixing.curriculumPlan(srcd(docs)).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val t0 = System.nanoTime()
      val pF = graft.llm.Mixing.curriculumPlan(srcd(docsAmp)).collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      val bad = pF.count { case (k, (nd, nt, lo, hi)) =>
        val (nd1, nt1, lo1, hi1) = p1(k)
        nd != factor * nd1 || nt != factor * nt1 || lo != lo1 || hi != hi1
      }
      println(f"STRESS curriculum_plan_${factor}x cells=${pF.length}%d " +
        f"invariant_violations=$bad%d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // concentration report at factor-x: shares, ranks, cumulative shares
    // and the HHI are RATIOS — amplification-invariant bit-for-bit —
    // while n_docs/n_tokens scale factor×. One corpus scan either way.
    locally {
      val srcd = (d: DataFrame) => d
        .withColumn("source", format_string("src%d", pmod(col("doc_id") % 1000000L, lit(5L))))
      val c1 = graft.llm.Mixing.corpusConcentration(srcd(docs)).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      val t0 = System.nanoTime()
      val cF = graft.llm.Mixing.corpusConcentration(srcd(docsAmp)).collect()
        .map(r => (r.getString(0),
          (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      val bad = cF.count { case (s, (nd, share, rank, cum, hhi)) =>
        val (nd1, share1, rank1, cum1, hhi1) = c1(s)
        nd != factor * nd1 || share != share1 || rank != rank1 ||
          cum != cum1 || hhi != hhi1
      }
      println(f"STRESS concentration_${factor}x sources=${cF.length}%d " +
        f"invariant_violations=$bad%d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // incremental-dedup bloom tier vs exact tier: (a) outputs must be
    // BIT-IDENTICAL — the tier's contract — and (b) the batch-side
    // bloom must cut the CORPUS-digest shuffle (only the suspected
    // fraction of corpus digests may reach the confirm join), which is
    // its whole reason to exist. The fixture is the tier's actual
    // regime: corpus = factor× DISTINCT texts (an incremental-dedup
    // state is deduplicated by construction — amplifying by verbatim
    // copies would fake a 90% dup-rate corpus no refresh pipeline has),
    // batch = corpus/10 rows, ~9% corpus copies + 91% fresh (the
    // crawl-refresh shape). Broadcast is disabled to emulate the 100 TB
    // regime (a digest set exceeding every broadcast threshold, forcing
    // shuffle joins); with broadcast on, both tiers degenerate to the
    // same broadcast plan at test scale and the comparison measures
    // nothing.
    locally {
      // corpus scales 10× past the fact amplification: the tier's
      // regime is corpus ≫ batch (500k distinct digests vs a 5k batch
      // at factor 10), and the exact tier's cost is the corpus-digest
      // shuffle, so THAT is the axis the probe stretches. One explode
      // off a single scan — NOT an N-leg union, which is an
      // N-plan-stage artifact no real corpus table has (measured: a
      // 100-leg union spends minutes in per-leg stage overhead and
      // would swamp the data movement this probe measures).
      val legs = factor * 10
      val corpusState = docs
        .select(col("doc_id"), col("text"),
          explode(expr(s"sequence(0L, ${legs - 1}L)")).as("i"))
        .select((col("doc_id") + col("i") * 1000000L).as("doc_id"),
          concat(col("text"), lit(" v"), col("i")).as("text"))
      val batch = corpusState.filter(col("doc_id") % (11L * legs) === 0)
        .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 11 =!= 0)
          .select((col("doc_id") + 60000000L).as("doc_id"),
            concat(col("text"), lit(" fresh "), col("doc_id")).as("text")))
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          if (e.taskMetrics != null)
            shuffleBytes.addAndGet(e.taskMetrics.shuffleReadMetrics.totalBytesRead)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def run(df: DataFrame): (Array[(Long, Boolean, Boolean, Boolean)], Long, Double) = {
        org.apache.spark.sql.GraftBridge.flushListenerBus(spark)
        shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        val rows = df
          .select(col("doc_id"), col("dup_in_batch"), col("dup_of_corpus"), col("keep"))
          .collect()
          .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
          .sortBy(t => (t._1, t._2, t._3, t._4))
        val secs = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.GraftBridge.flushListenerBus(spark)
        (rows, shuffleBytes.get, secs)
      }
      val (exactRows, exactB, exactS) =
        run(graft.llm.Dedup.incrementalDedup(corpusState, batch))
      // bloom sized to the BATCH digest count (~5k rows here): the
      // partial-bloom merge is partitions × bitmap, so oversizing it
      // only inflates that fixed cost
      val (bloomRows, bloomB, bloomS) =
        run(graft.llm.Dedup.incrementalDedupBloom(corpusState, batch,
          expectedItems = 10000L))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sparkContext.removeSparkListener(listener)
      // what the batch-side bloom reduces at ANY scale: the corpus
      // digest rows entering the confirm join — ALL of them without it,
      // the ~(dup-rate + fpp) suspected fraction with it
      val hits = bloomRows.count(_._3)
      val saving = 100.0 * (exactB - bloomB) / math.max(exactB, 1L)
      println(f"STRESS incr_bloom_${factor}x batch_rows=${bloomRows.length}%d " +
        f"identical=${bloomRows.sameElements(exactRows)} " +
        f"corpus_digests=${corpusState.count()}%d batch_dup_digests~=$hits%d " +
        f"exact_shuffle_mb=${exactB / 1e6}%.1f bloom_shuffle_mb=${bloomB / 1e6}%.1f " +
        f"shuffle_saving_pct=$saving%.0f exact=${exactS}%.2fs bloom=${bloomS}%.2fs")
    }
    // BPE learn corpus-scan probe (r13): bpeLearnMerges materializes
    // the word-frequency collapse ONCE, so its 8 sequential argmax
    // actions re-read the vocab-sized checkpoint, not the corpus. The
    // uncheckpointed shape replayed the corpus explode + collapse
    // shuffle EVERY round (~9 corpus reads for 8 rounds — an 8× waste
    // at 100 TB). Measured as executor input bytes (file scans AND
    // cached-block reads both count there), against a corpus written to
    // REAL parquet at a fixed 20× amplification — fixed, not `factor`,
    // because the probe's discriminating power needs corpus file bytes
    // ≫ the vocab checkpoint's in-memory size (the vocab is invariant
    // under replication, so amplifying only grows the denominator): the
    // full learn must then cost ~ONE corpus read (< 2× the baseline
    // text scan), where the uncheckpointed shape measures ~9×.
    locally {
      val bpeDir = "/tmp/graft_stress_bpe_corpus"
      (0 until 20)
        .map(i => docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          col("text")))
        .reduce(_ union _)
        .write.mode("overwrite").parquet(bpeDir)
      val corpus = spark.read.parquet(bpeDir)
      val inputBytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            inputBytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(listener)
      def measure[A](f: => A): (A, Long, Double) = {
        org.apache.spark.sql.GraftBridge.flushListenerBus(spark)
        inputBytes.set(0L)
        val t0 = System.nanoTime()
        val a = f
        org.apache.spark.sql.GraftBridge.flushListenerBus(spark)
        (a, inputBytes.get, (System.nanoTime() - t0) / 1e9)
      }
      // baseline reads the text column end-to-end (count() alone would
      // prune to metadata and fake a near-zero denominator)
      val (textChars, scanB, scanS) =
        measure(corpus.agg(sum(length(col("text")))).collect()(0).getLong(0))
      val (merges, learnB, learnS) =
        measure(graft.llm.TextAnalysis.bpeLearnMerges(corpus, rounds = 8).collect())
      spark.sparkContext.removeSparkListener(listener)
      val rescans = learnB.toDouble / math.max(scanB, 1L)
      println(f"STRESS bpe_learn_20x text_chars=$textChars%d " +
        f"merges=${merges.length}%d scan_mb=${scanB / 1e6}%.1f " +
        f"learn_mb=${learnB / 1e6}%.1f corpus_reads~=$rescans%.1f " +
        f"one_scan=${rescans < 2.0} scan=${scanS}%.2fs learn=${learnS}%.2fs")
    }
    // Incremental-fertility merge probe (r14): the foreachBatch rollup's
    // merge path at a 20× corpus — four disjoint slices reduced to
    // per-language counters and folded through fertilityMergeCounts must
    // equal the ONE-SHOT whole-corpus aggregate bit-for-bit (counter
    // merging is a per-language sum, so slicing can never change the
    // report), and the folded state stays |languages| rows at any scale.
    locally {
      val corpus = (0 until 20)
        .map(i => docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          col("text")))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val oneShot = graft.llm.TextAnalysis.tokenizerFertility(corpus)
        .collect().map(_.toSeq).toSeq
      val oneS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val slices = (0 until 4).map(i =>
        graft.llm.TextAnalysis.tokenizerFertilityCounts(
          corpus.filter(pmod(col("doc_id"), lit(4)) === i)))
      val merged = slices.tail.foldLeft(slices.head)(
        (state, partial) => graft.streaming.Streams.fertilityMergeCounts(Some(state), partial))
      val incr = graft.llm.TextAnalysis.tokenizerFertilityReport(merged)
        .collect().map(_.toSeq).toSeq
      val incrS = (System.nanoTime() - t1) / 1e9
      println(f"STRESS fertility_incremental_20x langs=${oneShot.length}%d " +
        f"identical=${incr == oneShot} one_shot=${oneS}%.2fs " +
        f"merged_4_slices=${incrS}%.2fs")
    }
    // plan sanity at amplified scale: dims still broadcast, filters pushed
    val plan = li.join(supp, col("l_suppkey") === col("s_suppkey"))
      .filter(col("l_quantity") > 45).queryExecution.executedPlan.toString
    println("STRESS plan_broadcast=" + plan.contains("BroadcastHashJoin") +
      " plan_pushdown=" + plan.contains("GreaterThan(l_quantity,45.0)"))
  }
}
