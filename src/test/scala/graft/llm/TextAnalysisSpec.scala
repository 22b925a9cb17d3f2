package graft.llm

import graft.SparkSpec
import graft.functions.NfcNormalize
import org.apache.spark.sql.functions._

/** BM25 ranking and CCNet-style normalization — exact-value checks against
  * independently computed references (the driver's DuckDB oracle covers the
  * corpus-scale path; these pin the formula and the Unicode edge cases).
  */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  /** Reference BM25 term score — the same IEEE expression tree the
    * operator evaluates, in plain Scala doubles.
    */
  private def refScore(tf: Long, df: Long, dl: Long, n: Long, a: Long): Long = {
    val idf = (2 * (n - df) + 1).toDouble / (2 * df + 1).toDouble
    val tfp = (22.0 * tf * a) / (10.0 * tf * a + 3.0 * a + 9.0 * dl * n)
    math.floor(1000000.0 * (idf * tfp)).toLong
  }

  test("bpeEncode applies merges greedily with whole-symbol boundaries") {
    initLog()
    def enc(text: String, merges: Seq[(String, String)]): (Long, Long, Long) = {
      val row = TextAnalysis.bpeEncode(
        Seq((0L, text)).toDF("doc_id", "text"), merges).head()
      (row.getAs[Long]("n_words"), row.getAs[Long]("n_chars"),
        row.getAs[Long]("n_tokens_bpe"))
    }
    val aa = Seq("a" -> "a")
    // greedy left-to-right in repeated-symbol runs: aaaa → aa|aa (NOT
    // aa|a|a — the boundary-wrapped replace must not starve the second
    // pair), aaa → aa|a
    assert(enc("aaaa", aa) === (1L, 4L, 2L))
    assert(enc("aaa", aa) === (1L, 3L, 2L))
    assert(enc("aaaaaa", aa) === (1L, 6L, 3L))
    // a merge never matches a symbol's PREFIX: (a,b) must not fire
    // inside "abc"'s "bc" tail after c blocks the boundary… but does
    // fire on the exact pair
    assert(enc("ab", Seq("a" -> "b")) === (1L, 2L, 1L))
    assert(enc("abc", Seq("a" -> "b")) === (1L, 3L, 2L)) // ab|c
    assert(enc("abc", Seq("b" -> "c")) === (1L, 3L, 2L)) // a|bc
    // ranks compose: merged symbols participate in later merges
    assert(enc("the", Seq("t" -> "h", "th" -> "e")) === (1L, 3L, 1L))
    // default list spot-checks: order → or|d|er, stream → st|re|a|m
    assert(enc("order", TextAnalysis.DefaultBpeMerges)._3 === 3L)
    assert(enc("stream", TextAnalysis.DefaultBpeMerges)._3 === 4L)
    // scan → s|c|an, the → the, window → w|in|d|o|w
    assert(enc("scan the window", TextAnalysis.DefaultBpeMerges) === (3L, 13L, 9L))
    // NULL text → empty counts, never dropped
    val nullRow = TextAnalysis.bpeEncode(
      Seq((0L, null.asInstanceOf[String])).toDF("doc_id", "text")).head()
    assert((nullRow.getLong(1), nullRow.getLong(2), nullRow.getLong(3)) ===
      (0L, 0L, 0L))
    // merge symbols may not contain the separator / be empty
    intercept[IllegalArgumentException](
      TextAnalysis.bpeEncode(Seq((0L, "x")).toDF("doc_id", "text"), Seq("" -> "a")))
  }

  bothPathsTest("bpeLearnMerges learns the hand-computed merge sequence and feeds bpeEncode") {
    initLog()
    // words: aa×1, ab×2. Round 1: pairs (a,a)×1, (a,b)×2 → (a,b).
    // Round 2: ab is fused, only (a,a)×1 remains → (a,a).
    // Round 3+: no pairs left → rounds stop emitting.
    val docs = Seq((0L, "aa ab"), (1L, "ab x")).toDF("doc_id", "text")
    val learned = TextAnalysis.bpeLearnMerges(docs, rounds = 4).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("x"),
        r.getAs[String]("y"), r.getAs[String]("merged"), r.getAs[Long]("n")))
    assert(learned.toSeq === Seq((1L, "a", "b", "ab", 2L), (2L, "a", "a", "aa", 1L)))
    // ties break lexicographically on (x, y)
    val tied = TextAnalysis.bpeLearnMerges(
      Seq((0L, "cd ab")).toDF("doc_id", "text"), rounds = 1).collect()
    assert(tied.head.getAs[String]("merged") === "ab")
    // the learned list drives the encoder: "aab ab" under [(a,b),(a,a)]
    // → aab = a|ab (the (a,a) rank can no longer fire), ab = ab
    val merges = learned.toSeq.map(t => t._2 -> t._3)
    val enc = TextAnalysis.bpeEncode(
      Seq((0L, "aab ab")).toDF("doc_id", "text"), merges).head()
    assert(enc.getAs[Long]("n_tokens_bpe") === 3L)
  }

  test("tokenizerFertility groups exact token/word sums by predicted language") {
    initLog()
    // doc 0: "the the" → en (stopword 'the' ×2); with merges (t,h),(th,e)
    //   each "the" = 1 token → 2 words, 2 tokens
    // doc 1: "zz qqq" → und (no stopword hits); no merge fires
    //   → 2 words, 2+3 = 5 tokens
    val docs = Seq((0L, "the the"), (1L, "zz qqq")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenizerFertility(docs,
      merges = Seq("t" -> "h", "th" -> "e")).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens_bpe"), r.getAs[Long]("fertility_ppm")))
    assert(out.toSeq === Seq(
      ("en", 1L, 2L, 2L, 1000000L),
      ("und", 1L, 2L, 5L, 2500000L)))
  }

  bothPathsTest("bpeEncodeLearned equals learn-then-encode with the collected merges") {
    initLog()
    val docs = Seq((0L, "aa ab"), (1L, "ab x"), (2L, "aab aba")).toDF("doc_id", "text")
    // reference composition: collect the learned list and feed the
    // fixed-list encoder (the operator collects only its bounded vocab,
    // never the merge list: the merges reach the encode side as a frame)
    val merges = TextAnalysis.bpeLearnMerges(docs, rounds = 4).collect()
      .map(r => r.getAs[String]("x") -> r.getAs[String]("y")).toSeq
    val want = TextAnalysis.bpeEncode(docs, merges).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens_bpe")))
      .sortBy(_._1).toSeq
    val got = TextAnalysis.bpeEncodeLearned(docs, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens_bpe")))
      .sortBy(_._1).toSeq
    assert(got === want)
    // more learnable pairs than rounds requested: still consistent
    // (both sides pinned to doc 0 — head() on an unordered frame would
    // compare whichever docs the partition layout surfaced first)
    val got2 = TextAnalysis.bpeEncodeLearned(docs, rounds = 1)
      .orderBy("doc_id").head()
    val m1 = TextAnalysis.bpeLearnMerges(docs, rounds = 1).collect()
      .map(r => r.getAs[String]("x") -> r.getAs[String]("y")).toSeq
    assert(got2.getAs[Long]("n_tokens_bpe") ===
      TextAnalysis.bpeEncode(docs, m1).orderBy("doc_id").head()
        .getAs[Long]("n_tokens_bpe"))
  }

  bothPathsTest("bpeLearnMerges is checkpoint-invariant (local / reliable)") {
    initLog()
    // Tuning.materialize trades fault tolerance for speed (localCheckpoint
    // truncates lineage and dies with an executor; checkpoint writes to
    // reliable storage) — it must NEVER change the learned merges. Same
    // corpus, both paths, identical rows.
    val docs = Seq((0L, "aa ab ba"), (1L, "ab x aab"), (2L, "the the ab"))
      .toDF("doc_id", "text")
    def learn(): Seq[(Long, String, String, String, Long)] =
      TextAnalysis.bpeLearnMerges(docs, rounds = 4)
        .collect()
        .map(r => (r.getAs[Long]("round"), r.getAs[String]("x"),
          r.getAs[String]("y"), r.getAs[String]("merged"), r.getAs[Long]("n")))
        .toSeq
    def encode(): Seq[Seq[Any]] =
      TextAnalysis.bpeEncodeLearned(docs, rounds = 4)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val (local, encLocal) = (learn(), encode())
    val (reliable, encReliable) = withCheckpointDir((learn(), encode()))
    assert(reliable === local)
    // and the learned-encode pipeline agrees under the reliable path too
    assert(encReliable === encLocal)
  }

  test("bpeLearnMerges takes the driver path exactly up to the broadcast threshold") {
    // words of two or more letters: aa, ab, ba, aab, the — 5 vocab rows
    // of 8 + 8 (wc) + 20 (s) estimated bytes each, so 180 bytes fit and
    // 179 do not
    val docs = Seq((0L, "aa ab ba"), (1L, "ab x aab"), (2L, "the the ab"))
      .toDF("doc_id", "text")
    def run(t: Long) = withBroadcastThreshold(t) {
      val (df, build) = jobsUnderGroup(TextAnalysis.bpeLearnMerges(docs, rounds = 4))
      (df.collect().map(_.toSeq).toSeq, build)
    }
    val (atCap, driverJobs) = run(180)
    val (overCap, loopJobs) = run(179)
    assert(atCap === overCap && atCap.length == 4)
    // driver path: the bounded collect of the vocab collapse (its
    // shuffle map stage and a partition scan); the loop adds the vocab
    // checkpoint and a checkpointed argmax per round
    assert(driverJobs <= 2, s"driver path built in $driverJobs jobs")
    assert(loopJobs >= 10, s"loop path built in $loopJobs jobs")
  }

  test("bm25Rank scores and ranks a known corpus exactly") {
    initLog()
    val docs = Seq(
      (0L, "spark spark spark filler filler filler filler filler"), // tf=3, dl=8
      (1L, "spark filler filler filler"),                           // tf=1, dl=4
      (2L, "filler filler filler filler filler filler"),            // no hit
      (3L, "spark spark")                                           // tf=2, dl=2
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Rank(docs, Seq("spark"), k = 10).collect()
    val n = 4L; val a = 8L + 4L + 6L + 2L; val df = 3L
    val expected = Map(
      0L -> refScore(3, df, 8, n, a),
      1L -> refScore(1, df, 4, n, a),
      3L -> refScore(2, df, 2, n, a))
    assert(out.length === 3) // doc 2 has no query term
    assert(out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score")).toMap === expected)
    // short doc with tf=2 outranks long doc with tf=3 (length normalization)
    assert(out.head.getAs[Long]("doc_id") === 3L)
    assert(out.forall(_.getAs[Long]("n_terms_hit") === 1L))
  }

  test("bm25Rank sums per-term scores for multi-term queries") {
    initLog()
    val docs = Seq(
      (0L, "cat dog cat"),
      (1L, "cat bird bird bird")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Rank(docs, Seq("cat", "dog"), k = 10)
      .orderBy("doc_id").collect()
    val n = 2L; val a = 7L
    assert(out(0).getAs[Long]("score") ===
      refScore(2, 2, 3, n, a) + refScore(1, 1, 3, n, a))
    assert(out(0).getAs[Long]("n_terms_hit") === 2L)
    assert(out(1).getAs[Long]("score") === refScore(1, 2, 4, n, a))
  }

  test("normalizeText composes NFC, lowercases, strips punct, collapses space") {
    initLog()
    val docs = Seq((0L, "CAFE\u0301  ,,The--QUICK!!  fox")).toDF("doc_id", "text")
    val r = TextAnalysis.normalizeText(docs).head()
    assert(r.getAs[String]("norm_text") === "café the quick fox")
    assert(r.getAs[Long]("norm_tokens") === 4L)
  }

  test("nfc_normalize: ASCII passthrough, composition, null, SQL registration") {
    initLog()
    val df = Seq(
      (0L, "plain ascii"),
      (1L, "e\u0301clair"),  // decomposed, must compose
      (2L, null.asInstanceOf[String])).toDF("id", "s")
    val out = df.select(col("id"), NfcNormalize.nfc_normalize(col("s")).as("n"))
      .orderBy("id").collect()
    assert(out(0).getAs[String]("n") === "plain ascii")
    assert(out(1).getAs[String]("n") === "éclair")
    assert(out(2).isNullAt(1))
    NfcNormalize.registerSql(spark)
    assert(spark.sql("SELECT nfc_normalize('o\u0308') AS x").head().getString(0) === "\u00f6")
  }

  test("bpePairCounts: pair counts weighted by word frequency, hand-checked") {
    initLog()
    // corpus: "low low lower" \u2192 words: low\u00d72, lower\u00d71
    // pairs: lo (2+1), ow (2+1), we (1), er (1)
    val docs = Seq((1L, "low low"), (2L, "lower")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(docs, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("lo" -> 3L, "ow" -> 3L, "we" -> 1L, "er" -> 1L))
    // single-char words contribute nothing; case folds
    val edge = Seq((1L, "A a AB")).toDF("doc_id", "text")
    val got2 = TextAnalysis.bpePairCounts(edge, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 === Map("ab" -> 1L))
  }

  test("rrfFuse: exact 1e9/(60+rank) contributions, one-leg docs, ties") {
    import spark.implicits._
    // leg A ranks: d10=1, d20=2; leg B ranks: d20=1, d30=2. Leg A also
    // carries a duplicate (query, doc) row for d10 — must collapse to the
    // best score before ranking, not fan out through the join
    val a = Seq((0L, 10L, 9.0), (0L, 10L, 3.5), (0L, 20L, 5.0))
      .toDF("query_id", "doc_id", "score")
    val b = Seq((0L, 20L, 2.0), (0L, 30L, 1.0)).toDF("query_id", "doc_id", "score")
    val got = TextAnalysis.rrfFuse(a, b, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(4), r.getLong(5)))
    // d20: floor(1e9/62) + floor(1e9/61) = 16129032 + 16393442 = 32522474
    // d10: floor(1e9/61) = 16393442 (absent from B contributes 0)
    // d30: floor(1e9/62) = 16129032
    assert(got.toSeq === Seq((20L, 32522474L, 1L), (10L, 16393442L, 2L),
      (30L, 16129032L, 3L)))
    // equal scores tie-break by doc_id in the leg rank AND the fused rank
    val t1 = Seq((0L, 2L, 1.0), (0L, 1L, 1.0)).toDF("query_id", "doc_id", "score")
    val t2 = Seq((0L, 2L, 1.0), (0L, 1L, 1.0)).toDF("query_id", "doc_id", "score")
    val tied = TextAnalysis.rrfFuse(t1, t2, k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(5)))
    assert(tied.toSeq === Seq((1L, 1L), (2L, 2L)))
  }

  test("corpusDataCard: exact volume, language mix, and dup rate per source") {
    // srcA: 3 docs, one exact dup pair, 2 en → en_ppm=666666, dup_ppm=333333
    // srcB: 1 doc, fr → en_ppm=0, dup_ppm=0
    val docs = Seq(
      (1L, "a b c", "en", "srcA"), (2L, "a b c", "en", "srcA"),
      (3L, "d e", "de", "srcA"), (4L, "x y z w", "fr", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.corpusDataCard(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq === Seq(
      ("srcA", 3L, 8L, 13L, 2L, 666666L, 333333L),
      ("srcB", 1L, 4L, 7L, 1L, 0L, 0L)))
    // partition-invariant: integer arithmetic end to end
    val re = TextAnalysis.corpusDataCard(docs.repartition(5)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(6)))
    assert(re.toSeq === Seq(("srcA", 3L, 333333L), ("srcB", 1L, 0L)))
  }

  test("filterFunnel: independent fails and cumulative survivors on a hand corpus") {
    // doc1: 50 'the of' pairs -> 100 tok, passes r1/r3; FAILS r2 (250
    //       non-space chars < 4·100) and r4 (2 distinct of 100)
    // doc2: 'the of' + 48 distinct 5-char words -> 50 tok, 245 chars in
    //       [200, 300], 2 stopword hits, 50 distinct -> passes ALL
    // doc3: 10 words incl 'the of' -> FAILS r1 only (45 chars in [40,60])
    val w2 = ("the of" +: (1 to 48).map(i => f"w${i}%04d")).mkString(" ")
    val docs = Seq(
      (1L, Seq.fill(50)("the of").mkString(" ")),
      (2L, w2),
      (3L, "the of aaaaa bbbbb ccccc ddddd eeeee fffff ggggg hhhhh"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.filterFunnel(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, "token_count_45_500", 1L, 2L, 3L),   // doc3 too short
      (2L, "chars_per_token_4_6", 1L, 1L, 3L),  // doc1 avg 2.5
      (3L, "min_stopword_hits_2", 0L, 1L, 3L),  // every doc has the+of
      (4L, "distinct_ratio_30pct", 1L, 1L, 3L)))
  }
}
