package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup operators on constructed corpora with known duplicate structure —
  * covers the hash-based paths that have no DuckDB oracle (minhash,
  * simhash) plus exact-value checks for jaccard.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs(texts: Seq[String]) = {
    initLog()
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val nearDup = base.replace("omicron", "OMICRON") // 1-word change
  private val unrelated = (1 to 20).map(i => s"word$i").mkString(" ")
  private val unrelated2 = (21 to 40).map(i => s"tok$i").mkString(" ")

  test("exactDedup groups identical texts, keeps min id") {
    val docs = mkDocs(Seq(base, unrelated, base, unrelated2, base))
    val out = Dedup.exactDedup(docs).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("keep_id")).toSeq === Seq(0L, 1L, 0L, 3L, 0L))
    assert(out.map(_.getAs[Boolean]("is_dup")).toSeq === Seq(false, false, true, false, true))
    assert(out.filter(_.getAs[Long]("doc_id") == 0L).head.getAs[Long]("n_copies") === 3L)
  }

  test("incrementalDedupBloom is bit-identical to the exact tier, incl. duplicate-id batches") {
    val corpus = Seq((1L, "seen one"), (2L, "seen two")).toDF("doc_id", "text")
    // doc_id 10 appears TWICE with DIFFERENT texts — one a corpus copy,
    // one fresh. The exact tier flags per ROW (digest join); the bloom
    // tier's (id, digest) hit key must neither fan out the repeated id
    // nor smear the corpus-hit onto the fresh twin. 12/13 are a
    // within-batch duplicate pair on top.
    val batch = Seq(
      (10L, "seen one"), (10L, "fresh a"), (11L, "fresh b"),
      (12L, "fresh c"), (13L, "fresh c"), (14L, "seen two")
    ).toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "h", "dup_in_batch", "dup_of_corpus", "keep").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
          r.getBoolean(3), r.getBoolean(4)))
        .sortBy(t => (t._1, t._2))
    val exact = norm(Dedup.incrementalDedup(corpus, batch))
    val bloom = norm(Dedup.incrementalDedupBloom(corpus, batch, expectedItems = 100L))
    assert(bloom === exact)
    assert(exact.length === 6) // one output row per batch row — no fan-out
    val byRow = exact.map(t => (t._1, t._2.take(4)) -> (t._3, t._4, t._5)).toMap
    // the corpus-copy twin is flagged, the fresh twin of the SAME id kept
    assert(exact.count(t => t._1 == 10L && t._4) === 1)
    assert(exact.count(t => t._1 == 10L && t._5) === 1)
    // within-batch pair: first kept, second dup_in_batch
    assert(exact.find(_._1 == 12L).get._5 && exact.find(_._1 == 13L).get._3)
    assert(!exact.find(_._1 == 14L).get._5 && exact.find(_._1 == 14L).get._4)
    assert(byRow.size === 6)
  }

  test("crossSourceDupStats counts shared contents and multiplicity-product pairs") {
    // text A: web×2, wiki×1, code×1 → (code,web):(1,2) (code,wiki):(1,1)
    //   (web,wiki):(1,2); text B: web×1, wiki×2 → (web,wiki) gains (1,2);
    // text C only in code → contributes nothing
    val docs = Seq(
      (1L, "A", "web"), (2L, "A", "web"), (3L, "A", "wiki"), (4L, "A", "code"),
      (5L, "B", "web"), (6L, "B", "wiki"), (7L, "B", "wiki"),
      (8L, "C", "code")).toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDupStats(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      ("code", "web") -> ((1L, 2L)),   // A: 1·2
      ("code", "wiki") -> ((1L, 1L)),  // A: 1·1
      ("web", "wiki") -> ((2L, 4L))))  // A: 2·1 + B: 1·2
  }

  test("minHashDedup clusters a near-duplicate pair and leaves unrelated docs alone") {
    val docs = mkDocs(Seq(base, nearDup, unrelated, unrelated2))
    val out = Dedup.minHashDedup(docs, threshold = 0.5).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("keep_id") === 0L)
    assert(out(1).getAs[Long]("keep_id") === 0L) // near-dup joins cluster 0
    assert(out(1).getAs[Boolean]("is_dup"))
    assert(out(2).getAs[Long]("keep_id") === 2L)
    assert(out(3).getAs[Long]("keep_id") === 3L)
  }

  test("ngramJaccardPairs computes the exact jaccard value") {
    // base has 18 distinct 3-gram shingles; the 1-word edit changes 3 of
    // them → |∩| = 15, |∪| = 18 + 18 - 15 = 21.
    val docs = mkDocs(Seq(base, nearDup))
    val out = Dedup.ngramJaccardPairs(docs).collect()
    assert(out.length === 1)
    assert(math.abs(out.head.getAs[Double]("jaccard") - 15.0 / 21.0) < 1e-12)
  }

  /** Whether `df` is a driver path's result: a local relation. */
  private def onDriver(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Whether the session threshold lets a broadcast-sized input take a
    * driver path ([[bothPathsTest]] runs its second registration at -1).
    */
  private def driverPathsOn: Boolean =
    spark.sessionState.conf.autoBroadcastJoinThreshold >= 0

  /** Every column of every row, binary values as byte sequences. */
  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(r => (0 until r.length).map(r.get(_) match {
      case b: Array[Byte] => b.toSeq
      case v => v
    })).toSet

  bothPathsTest("prefixFilteredJaccardPairs equals brute force on a randomized corpus") {
    // 40 docs over a small token universe (forced overlaps: shared prefixes,
    // common stop-tokens, exact dups) — seeds chosen so every similarity
    // band is populated
    val rng = new scala.util.Random(42)
    val vocab = (1 to 30).map(i => s"t$i")
    val texts = (0 until 40).map { i =>
      if (i % 7 == 0 && i > 0) null // replaced below with a copy of doc i-1
      else (0 until 10 + rng.nextInt(10))
        .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    val fixed = texts.zipWithIndex.map { case (t, i) =>
      if (t == null) texts(i - 1) else t }
    val docs = mkDocs(fixed)
    for (tPpm <- Seq(300000L, 500000L, 800000L)) {
      val pairs = Dedup.prefixFilteredJaccardPairs(docs, tPpm)
      assert(onDriver(pairs) === driverPathsOn, s"threshold $tPpm")
      val got = pairs
        .select("a_id", "b_id", "common").orderBy("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // brute force: full inverted-index pairs, thresholded with the same
      // integer test
      val sh = Dedup.withShingles(docs.filter(size(split(col("text"), " ")) >= 3))
        .select(col("doc_id"), size(col("shingles")).cast("long").as("n"),
          explode(col("shingles")).as("s"))
      val brute = sh.as("a").join(sh.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("common"), max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
        .filter(col("common") * 1000000L >= lit(tPpm) * (col("na") + col("nb") - col("common")))
        .select("a_id", "b_id", "common").orderBy("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === brute, s"threshold $tPpm: prefix-filtered != brute force")
      assert(brute.nonEmpty, s"threshold $tPpm: degenerate test corpus")
    }
  }

  bothPathsTest("prefixFilteredJaccardPairs pairs string, int, decimal, binary and null ids alike") {
    // docs 0 and 1 are copies, doc 2 adds two words (10 shingles, 8 of
    // them shared: jaccard 0.8), doc 3 shares nothing, and a null-id copy
    // counts toward document frequencies but never pairs. The rows come
    // in a shuffled order, and the ids of each type are listed ascending
    // under Catalyst's ordering: 9 < 10 < 200 < 3000 as ints, not as text
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val texts = Seq(shared, shared, shared + " x y", "q r s t u")
    val types = Seq(
      "string" -> Seq("b", "bb", "c", "x"),
      "int" -> Seq("9", "10", "200", "3000"),
      "decimal(6,2)" -> Seq("2.25", "3.00", "10.50", "11.00"),
      "binary" -> Seq("a", "b", "c", "d"))
    types.foreach { case (t, ids) =>
      val docs = (Seq(2, 0, 3, 1).map(i => (ids(i), texts(i))) :+ ((null: String) -> shared))
        .toDF("doc_id", "text").select(col("doc_id").cast(t), col("text"))
      val pairs = Dedup.prefixFilteredJaccardPairs(docs)
      assert(onDriver(pairs) === driverPathsOn, t)
      assert(pairs.schema ===
        withBroadcastThreshold(-1)(Dedup.prefixFilteredJaccardPairs(docs)).schema, t)
      val id = ids.toDF("v").select(col("v").cast(t)).collect().map(_.get(0) match {
        case b: Array[Byte] => b.toSeq
        case v => v
      })
      assert(rowSet(pairs) === Set(Seq(id(0), id(1), 8L, 8L, 8L, 1.0),
        Seq(id(0), id(2), 8L, 8L, 10L, 0.8), Seq(id(1), id(2), 8L, 8L, 10L, 0.8)), t)
    }
  }

  bothPathsTest("prefixFilteredJaccardPairs returns the Spark path's rows for duplicate ids") {
    // id 1 names two documents: the Spark path's window and verify joins
    // read them as one id, and the driver path leaves such input to it
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, shared), (1L, shared + " x y"), (2L, shared), (3L, "q r s t u"))
      .toDF("doc_id", "text")
    val pairs = Dedup.prefixFilteredJaccardPairs(docs)
    assert(!onDriver(pairs))
    val spark1 = withBroadcastThreshold(-1)(rowSet(Dedup.prefixFilteredJaccardPairs(docs)))
    assert(rowSet(pairs) === spark1 && spark1.nonEmpty)
  }

  test("prefixFilteredJaccardPairs takes the driver path exactly up to the broadcast threshold") {
    // four docs of 18 shingles: 72 token rows of 8 + 8 (doc_id) + 8 (n)
    // + 8 (s) estimated bytes each, so 2,304 bytes fit and 2,303 do not;
    // the seven shared prefix tokens bound the candidates at 7 pairs
    // (392 bytes), which fits at both
    val docs = mkDocs(Seq(base, nearDup, unrelated, unrelated2))
    def run(t: Long) = withBroadcastThreshold(t) {
      val pairs = Dedup.prefixFilteredJaccardPairs(docs)
      (onDriver(pairs), pairs.schema, rowSet(pairs))
    }
    val (atCapLocal, atCapSchema, atCap) = run(2304)
    val (overCapLocal, overCapSchema, overCap) = run(2303)
    assert(atCapLocal && !overCapLocal)
    assert(atCapSchema === overCapSchema)
    assert(atCap === overCap && atCap === Set(Seq(0L, 1L, 15L, 18L, 18L, 15.0 / 21.0)))
  }

  test("prefixFilteredJaccardPairs leaves a candidate set over the threshold to the Spark path") {
    // 40 copies of one 2-shingle text: 80 token rows (2,560 bytes) fit a
    // 10,000-byte threshold, but both tokens sit in all 40 prefixes, so
    // the candidate bound is 2 · C(40, 2) = 1,560 pair rows of 56 bytes
    val docs = mkDocs(Seq.fill(40)("a b c d"))
    def run(t: Option[Long]) = {
      def go = { val p = Dedup.prefixFilteredJaccardPairs(docs); (onDriver(p), rowSet(p)) }
      t.fold(go)(withBroadcastThreshold(_)(go))
    }
    val (bigLocal, driverRows) = run(None)
    val (smallLocal, sparkRows) = run(Some(10000L))
    assert(bigLocal && !smallLocal)
    assert(sparkRows === driverRows && driverRows.size == 780)
  }

  test("decontaminate flags exactly the docs sharing a shingle with the blocklist") {
    // corpus: base, its near-dup, and two unrelated docs; blocklist: base
    val corpus = mkDocs(Seq(base, nearDup, unrelated, unrelated2))
    val blocklist = corpus.filter(col("doc_id") === 0)
    val out = Dedup.decontaminate(corpus, blocklist)
      .select("doc_id", "contaminated").orderBy("doc_id").collect()
    assert(out.map(_.getAs[Boolean]("contaminated")).toSeq ===
      Seq(true, true, false, false)) // base itself + its near-dup share shingles
  }

  test("ngramJaccardPairs df cap: no-op above max df, drops stop-shingle inflation") {
    val docs = mkDocs(Seq(base, nearDup, unrelated, unrelated2))
    // cap above every shingle's df → byte-identical to the exact path
    val exact = Dedup.ngramJaccardPairs(docs, topK = 100).collect().toSeq
    val capped = Dedup.ngramJaccardPairs(docs, topK = 100, maxDf = 1000).collect().toSeq
    assert(capped === exact)
    // skew: one stop-shingle prefix shared by ALL docs creates pairs among
    // otherwise-unrelated docs; maxDf = 2 drops it and only the true
    // near-dup pair (which shares many rare shingles) survives
    val skewed = mkDocs(Seq(base, nearDup, unrelated, unrelated2).map("the quick brown fox " + _))
    val uncapped = Dedup.ngramJaccardPairs(skewed, topK = 100).collect()
    assert(uncapped.length === 6) // every pair shares the stop-shingles
    val cappedSkew = Dedup.ngramJaccardPairs(skewed, topK = 100, maxDf = 2).collect()
    assert(cappedSkew.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet ===
      Set((0L, 1L)))
  }

  test("MinHashSig native expression is bit-identical to the explode+MIN-agg pipeline") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val shingled = Dedup.withShingles(docs)
    val native = Dedup.minHashSignatures(shingled, numHashes = 32)
      .select(col("doc_id"), col("sig"))
    // the pre-round-4 aggregate formulation — the independent reference
    val p = 4294967311L
    val exploded = shingled
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), abs(hash(col("s")).cast("long")).as("h"))
    val minCols = (0 until 32).map { j =>
      min(pmod(lit(2L * j + 1) * col("h") + lit(j * 2654435761L), lit(p))).as(s"__m$j")
    }
    val ref = exploded.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id").as("r_id"),
        array((0 until 32).map(j => col(s"__m$j")): _*).as("sig_ref"))
    val joined = native.join(ref, col("doc_id") === col("r_id"))
    assert(joined.filter(col("sig") =!= col("sig_ref")).count() === 0)
    assert(joined.count() > 0)
  }

  test("SimHash64 native expression is bit-identical to the old HOF fold") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val native = Dedup.simHash(docs).select(col("doc_id"), col("simhash"))
    // the pre-round-4 two-stage HOF fold — the independent reference
    val hof = docs
      .withColumn("th", expr("transform(split(text, ' '), t -> xxhash64(t))"))
      .withColumn("votes", expr(
        """aggregate(th, array_repeat(0, 64),
          |  (acc, h) -> zip_with(acc, sequence(0, 63),
          |                (v, i) -> v + if(((h >> i) & 1) = 1, 1, -1)))""".stripMargin))
      .withColumn("simhash_hof", expr(
        """aggregate(zip_with(votes, sequence(0, 63), (v, i) -> if(v > 0, shiftleft(1L, i), 0L)),
          |  0L, (acc, b) -> acc | b)""".stripMargin))
      .select(col("doc_id").as("h_id"), col("simhash_hof"))
    val joined = native.join(hof, col("doc_id") === col("h_id"))
    assert(joined.filter(col("simhash") =!= col("simhash_hof")).count() === 0)
    assert(joined.count() > 0)
  }

  test("simHash: identical texts collide, near-dups are hamming-close") {
    val docs = mkDocs(Seq(base, base, nearDup, unrelated))
    val hashed = Dedup.simHash(docs)
    val fp = hashed.orderBy("doc_id").select("simhash").as[Long].collect()
    assert(fp(0) === fp(1))
    val hammingNear = java.lang.Long.bitCount(fp(0) ^ fp(2))
    val hammingFar = java.lang.Long.bitCount(fp(0) ^ fp(3))
    assert(hammingNear < hammingFar)
    val pairs = Dedup.simHashPairs(hashed, maxHamming = 0)
      .filter(col("a_id") === 0 && col("b_id") === 1).collect()
    assert(pairs.length === 1 && pairs.head.getAs[Int]("hamming") === 0)
  }

  test("simHashPairs: combination banding recalls every pair within maxHamming (pigeonhole)") {
    initLog()
    import spark.implicits._
    // synthetic fingerprints at controlled hamming distances from a base:
    // flips spread across far-apart bit positions to cross block borders
    val baseFp = 0x5a5a3c3cf0f01e1eL
    def flip(bits: Int*): Long = bits.foldLeft(baseFp)((h, b) => h ^ (1L << b))
    val fps = Seq(
      0L -> baseFp,
      1L -> flip(0), // hamming 1
      2L -> flip(0, 21, 42), // hamming 3, one flip per 22-bit region
      3L -> flip(5, 15, 25, 35), // hamming 4 — must NOT appear at k=3
      4L -> flip(63)) // hamming 1 at the top bit
    val hashed = fps.toDF("doc_id", "simhash")
    val pairs = Dedup.simHashPairs(hashed, maxHamming = 3)
      .filter(col("a_id") === 0).orderBy("b_id").collect()
    assert(pairs.map(_.getAs[Long]("b_id")).toSeq === Seq(1L, 2L, 4L))
    assert(pairs.map(_.getAs[Int]("hamming")).toSeq === Seq(1, 3, 1))
  }

  test("minHashDedup releases its loop caches (only the result's checkpoint is retained)") {
    val docs = mkDocs(Seq(base, base, nearDup, unrelated))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.minHashDedup(docs)
    assert(out.count() === 4)
    val retained = spark.sparkContext.getPersistentRDDs.keySet -- before
    // the materialized result (its local checkpoint) is the single retained entry
    assert(retained.size <= 1, s"leaked caches: $retained")
  }

  test("minHashDedup closes transitive chains: A~B~C one cluster even when A-C is sub-threshold") {
    // 40-word doc; B edits the last 2 words of A, C edits the first 2 of
    // B. A-B and B-C trigram jaccard 0.9; A-C 0.81 — below the 0.85
    // threshold, so only closure links A and C.
    val words = (1 to 40).map(i => s"w$i")
    val a = words.mkString(" ")
    val b = (words.dropRight(2) ++ Seq("X1", "X2")).mkString(" ")
    val cc = (Seq("Y1", "Y2") ++ words.slice(2, 38) ++ Seq("X1", "X2")).mkString(" ")
    val docs = mkDocs(Seq(a, b, cc, unrelated))
    // sanity: A-C really is below threshold while A-B and B-C are above
    val jac = Dedup.ngramJaccardPairs(docs.filter(col("doc_id") < 3), topK = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(jac((0L, 1L)) >= 0.85 && jac((1L, 2L)) >= 0.85 && jac((0L, 2L)) < 0.85,
      s"fixture drifted: $jac")
    val out = Dedup.minHashDedup(docs, threshold = 0.85).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("keep_id")).toSeq === Seq(0L, 0L, 0L, 3L))
  }

  test("minHashDedup closure: bridge doc with the LARGEST id still merges its neighbors") {
    // Same chain fixture, but the bridge doc is given the HIGHEST doc_id
    // (order: A, C, B → ids 0, 1, 2 with 2 the bridge). Min-partner
    // pointer jumping alone strands doc 1 (its only partner, 2, is larger,
    // so the 1–2 edge collapses into "1 keeps itself"); the edge-relaxation
    // step of connectedComponents' loop closes this, and union-find on its
    // driver path, which this small pair graph takes, links both edges.
    val words = (1 to 40).map(i => s"w$i")
    val a = words.mkString(" ")
    val b = (words.dropRight(2) ++ Seq("X1", "X2")).mkString(" ")
    val cc = (Seq("Y1", "Y2") ++ words.slice(2, 38) ++ Seq("X1", "X2")).mkString(" ")
    val docs = mkDocs(Seq(a, cc, b, unrelated)) // bridge b is doc_id 2
    val out = Dedup.minHashDedup(docs, threshold = 0.85).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("keep_id")).toSeq === Seq(0L, 0L, 0L, 3L))
  }

  test("LSH recall harness at sf0.01: measured recall meets the 1-(1-j^r)^b band bound") {
    initLog()
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val shingled = Dedup.withShingles(docs)
    // ground truth: ALL exact n-gram-Jaccard pairs >= tau on the same corpus
    val truth = Dedup.ngramJaccardPairs(docs, topK = 100000)
      .filter(col("jaccard") >= 0.7)
      .select("a_id", "b_id", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(truth.size >= 20, s"corpus should contain planted near-dups, got ${truth.size}")
    val numHashes = 32
    val bands = 8
    val r = numHashes / bands
    val banded = Dedup.lshBands(Dedup.minHashSignatures(shingled, numHashes), numHashes, bands)
    val found = Dedup.minHashCandidatePairs(banded, shingled, threshold = 0.7)
      .select("a_id", "b_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val recall = truth.keysIterator.count(found.contains).toDouble / truth.size
    // per-pair detection probability from its exact jaccard; the mean is the
    // expected recall of banded MinHash — allow 0.1 sampling/hash-family slack
    val expected = truth.valuesIterator
      .map(j => 1 - math.pow(1 - math.pow(j, r), bands)).sum / truth.size
    info(f"sf0.01: recall=$recall%.3f expected=$expected%.3f over ${truth.size} truth pairs")
    assert(recall >= expected - 0.1,
      f"recall $recall%.3f below 1-(1-j^r)^b bound $expected%.3f - 0.1")
  }

  test("LSH recall harness at sf0.1 — bench scale", graft.SlowTest) {
    initLog()
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.1", "documents")
    val shingled = Dedup.withShingles(docs)
    val truth = Dedup.ngramJaccardPairs(docs, topK = 1000000)
      .filter(col("jaccard") >= 0.7)
      .select("a_id", "b_id", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(truth.size >= 200, s"sf0.1 corpus should contain planted near-dups, got ${truth.size}")
    val numHashes = 32
    val bands = 8
    val r = numHashes / bands
    val banded = Dedup.lshBands(Dedup.minHashSignatures(shingled, numHashes), numHashes, bands)
    val found = Dedup.minHashCandidatePairs(banded, shingled, threshold = 0.7)
      .select("a_id", "b_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val recall = truth.keysIterator.count(found.contains).toDouble / truth.size
    val expected = truth.valuesIterator
      .map(j => 1 - math.pow(1 - math.pow(j, r), bands)).sum / truth.size
    info(f"sf0.1: recall=$recall%.3f expected=$expected%.3f over ${truth.size} truth pairs")
    assert(recall >= expected - 0.1,
      f"recall $recall%.3f below 1-(1-j^r)^b bound $expected%.3f - 0.1 at sf0.1")
  }

  test("paragraphDedup keeps first occurrences and reassembles in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha|beta|gamma"),
      (2L, "beta|delta"),       // beta seen in doc 1 idx 1 → dropped here
      (3L, "alpha|alpha|zeta"), // both alphas dupes of doc 1 idx 0
      (4L, "beta|alpha")        // everything seen before → doc vanishes
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, delim = "|").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text_dedup"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_total")))).toMap
    assert(out(1L) === (("alpha|beta|gamma", 3L, 3L)))
    assert(out(2L) === (("delta", 1L, 2L)))
    assert(out(3L) === (("zeta", 1L, 3L)))
    assert(!out.contains(4L), "a doc with no surviving paragraph is dropped")
    // global invariant: each distinct paragraph survives exactly once
    val survivors = Dedup.paragraphDedup(docs, delim = "|")
      .select(explode(split(col("text_dedup"), "\\|")).as("p"))
      .groupBy("p").count().filter(col("count") > 1)
    assert(survivors.isEmpty)
  }

  test("decontaminateNearDupPairs flags planted prefix contamination exactly") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val bench = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
    val pairs = Dedup.decontaminateNearDupPairs(
      docs.select(col("doc_id"), col("text")), bench, threshold = 0.3)
    val flagged = pairs.select("train_id", "bench_id").as[(Long, Long)].collect().toSet
    val planted = bench.select("doc_id").as[Long].collect().toSet
    // every planted (d, d) self pair must be found (prefix ⊂ doc → high jaccard)
    val selfFound = planted.count(d => flagged.contains((d, d)))
    assert(selfFound == planted.size,
      s"only $selfFound/${planted.size} planted contaminations flagged")
    // all reported jaccards honor the threshold
    assert(pairs.filter(col("jaccard") < 0.3).isEmpty)
  }

  test("tfidfTopTerms ranks by exact integer weight with term tiebreak") {
    import spark.implicits._
    // doc 1: 'x' tf=3 df=1 → weight 3M; 'y' tf=1 df=2 → 500k; 'z' tf=1 df=1 → 1M
    val docs = Seq((1L, "x x x y z"), (2L, "y w")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank")) ->
        ((r.getAs[String]("term"), r.getAs[Long]("weight")))).toMap
    assert(out((1L, 1L)) === (("x", 3000000L)))
    assert(out((1L, 2L)) === (("z", 1000000L)))
    assert(out((2L, 1L)) === (("w", 1000000L)))
    assert(out((2L, 2L)) === (("y", 500000L)))
  }

  test("spanDedup flags spans first seen in earlier docs; hashed keys agree") {
    val docs = mkDocs(Seq(
      "a b c d e f",       // doc 0: 3 windows, none dup
      "x y c d e f z",     // doc 1: 4 windows, "c d e f" first seen in doc 0
      "p q r",             // doc 2: shorter than window → whole text, unique
      "x y c d e f z"))    // doc 3: all 4 windows first seen in doc 1
    val out = Dedup.spanDedup(docs, window = 4).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("n_windows")).toSeq === Seq(3L, 4L, 1L, 4L))
    assert(out.map(_.getAs[Long]("n_dup_windows")).toSeq === Seq(0L, 1L, 0L, 4L))
    assert(out.map(_.getAs[Boolean]("is_span_dup")).toSeq ===
      Seq(false, true, false, true))
    assert(out(1).getAs[Long]("dup_frac_ppm") === 250000L)
    val hashed = Dedup.spanDedup(docs, window = 4, hashSpans = true)
      .orderBy("doc_id").collect()
    assert(hashed.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("spanDedupRewrite removes covered tokens, keeps first occurrence verbatim") {
    val docs = mkDocs(Seq(
      "a b c d e f",       // doc 0: first occurrence, untouched
      "x c d e f y",       // doc 1: window "c d e f" covers pos 1..4 → "x y"
      "c d e f",           // doc 2: fully duplicated → empty
      "p q"))              // doc 3: shorter than window, untouched
    val out = Dedup.spanDedupRewrite(docs, window = 4).orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("text_dedup")).toSeq ===
      Seq("a b c d e f", "x y", "", "p q"))
    assert(out.map(_.getAs[Long]("n_kept")).toSeq === Seq(6L, 2L, 0L, 2L))
    assert(out.map(_.getAs[Long]("n_total")).toSeq === Seq(6L, 6L, 4L, 2L))
  }

  test("keepBestDedup keeps the longest member, smallest id on ties") {
    val docs = Seq(
      (0L, "alpha beta"),            // cluster A (prefix "alpha"): shorter
      (1L, "alpha beta gamma delta"), // cluster A: longest → keep
      (2L, "alpha beta gamma delta"), // cluster A: same length, larger id
      (3L, "zeta eta")               // cluster B: singleton
    ).toDF("doc_id", "text")
    val out = Dedup.keepBestDedup(docs,
      md5(split(col("text"), " ").getItem(0))).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("keep_id")).toSeq === Seq(1L, 1L, 1L, 3L))
    assert(out.map(_.getAs[Boolean]("is_dup")).toSeq ===
      Seq(true, false, true, false))
    assert(out(0).getAs[Long]("n_cluster") === 3L)
  }

  test("canonicalUrl normalizes scheme/www/case/utm/fragment/slash; keeps real params") {
    val urls = Seq(
      (1L, "HTTP://WWW.Example.com/A/"),
      (2L, "https://example.com/a"),
      (3L, "https://example.com/a?utm_source=x&utm_id=2"),
      (4L, "https://example.com/a/?utm_source=x#frag"),
      (5L, "https://example.com/a?page=2"),       // real param survives
      (6L, "https://example.com/a?page=2&utm_ref=z")
    ).toDF("doc_id", "url")
    val got = urls.withColumn("c", Dedup.canonicalUrl(col("url")))
      .orderBy("doc_id").collect().map(_.getString(2)).toSeq
    assert(got === Seq(
      "https://example.com/a",
      "https://example.com/a",
      "https://example.com/a",
      "https://example.com/a",
      "https://example.com/a?page=2",
      "https://example.com/a?page=2"))
    val dedup = Dedup.urlDedup(urls, "url").orderBy("canonical_url").collect()
    assert(dedup.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq === Seq(
      ("https://example.com/a", 1L, 4L),
      ("https://example.com/a?page=2", 5L, 2L)))
  }

  test("minhash recall vs exact jaccard on the driver corpus (sf0.001)") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val exact = Dedup.ngramJaccardPairs(docs, topK = 1000)
      .filter(col("jaccard") >= 0.7)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clusters = Dedup.minHashDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep_id")).toMap
    val recalled = exact.count { case (a, b) => clusters(a) == clusters(b) }
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(recalled.toDouble / exact.size >= 0.9,
      s"minhash recall $recalled/${exact.size} below 0.9")
  }

  test("winnowing guarantee: any shared substring of length >= w+k-1 is detected") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"zeta eta $shared theta iota kappa"),
      (3L, "completely unrelated content with different words entirely"),
      (4L, "ABCDEFGHIJKLMNOPQRSTUVWXYZ 0123456789 XYZZY PLUGH")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowedOverlapPairs(docs, k = 8, w = 4, topK = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the 44-char shared span is far above the w+k-1 = 11 guarantee bound
    assert(pairs.contains((1L, 2L)), s"guaranteed pair missed: $pairs")
    assert(pairs((1L, 2L)) >= 5, s"expected many shared fingerprints: ${pairs((1L, 2L))}")
    // disjoint-alphabet docs share nothing
    assert(!pairs.contains((3L, 4L)), s"false overlap: $pairs")
  }

  test("winnowedOverlapPairs df cap drops corpus-wide boilerplate spans") {
    import spark.implicits._
    val boiler = "standard corporate header present in every single document"
    val docs = ((1 to 40).map(i => (i.toLong, s"$boiler tail $i")) ++ Seq(
      (1001L, "prefix one with a genuinely rare shared span of text here"),
      (1002L, "a genuinely rare shared span of text here with other suffix")))
      .toDF("doc_id", "text")
    val top = Dedup.winnowedOverlapPairs(docs, maxDf = 16).collect().head
    // the boilerplate span sits in 40 docs > maxDf=16, so its 780 pairs are
    // suppressed; the genuine rare overlap must rank first
    assert((top.getLong(0), top.getLong(1)) === ((1001L, 1002L)),
      s"expected the rare pair on top, got $top")
  }

  test("winnowedOverlapPairs is deterministic under repartitioning") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val a = Dedup.winnowedOverlapPairs(docs).collect().map(_.toSeq).toSeq
    val b = Dedup.winnowedOverlapPairs(docs.repartition(7)).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  bothPathsTest("dedupClusterStats: transitive clusters, singletons excluded, drop accounting") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, shared), (2L, shared), (3L, shared),          // one 3-cluster
      (4L, shared + " extra tail tokens here now"),      // joins via overlap ≥ 0.5
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon zeta"),      // one 2-cluster
      (99L, "totally unrelated lonely document text")    // singleton: no row
    ).toDF("doc_id", "text")
    val got = Dedup.dedupClusterStats(docs, thresholdPpm = 500000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(2L -> ((1L, 2L, 1L)), 4L -> ((1L, 4L, 3L))))
  }

  test("contaminationReport: per-bench counts and worst jaccard") {
    import spark.implicits._
    val benchText = (1 to 12).map(i => s"b$i").mkString(" ")
    val train = Seq(
      (1L, benchText),                                   // exact: jaccard 1.0
      (2L, benchText + " extra trailing words"),         // partial overlap
      (3L, "none of these shingles appear there at all")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val rows = Dedup.contaminationReport(train, bench, threshold = 0.3).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 100L)
    assert(rows.head.getLong(1) === 2L)          // docs 1 and 2 contaminate
    assert(rows.head.getDouble(2) === 1.0)       // doc 1 is an exact copy
  }

  bothPathsTest("thresholdSweep: monotone counts, each row ≡ an independent pair query") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 300)
    val thresholds = Seq(500000L, 700000L, 900000L)
    val rows = Dedup.thresholdSweep(docs, thresholds)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // tightening the threshold never adds pairs/docs/removals
    thresholds.sliding(2).foreach { case Seq(lo, hi) =>
      val (pl, dl, rl) = rows.getOrElse(lo, (0L, 0L, 0L))
      val (ph, dh, rh) = rows.getOrElse(hi, (0L, 0L, 0L))
      assert(ph <= pl && dh <= dl && rh <= rl, s"sweep not monotone at $hi")
    }
    // EVERY requested threshold reports a row (zeros when no pair
    // qualifies), and each row matches a from-scratch pair query
    assert(rows.keySet === thresholds.toSet)
    thresholds.foreach { t =>
      val pairs = Dedup.prefixFilteredJaccardPairs(docs, thresholdPpm = t)
      val nPairs = pairs.count()
      val nRemoved =
        if (nPairs == 0L) 0L else pairs.select("b_id").distinct().count()
      assert(rows(t)._1 === nPairs && rows(t)._3 === nRemoved)
    }
  }
}
