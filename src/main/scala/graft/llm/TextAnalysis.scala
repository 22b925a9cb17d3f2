package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.RollingHash64.rolling_hash64

/** Text analysis for training-data pipelines: token statistics, language
  * identification, quality scoring, fingerprinting (north-star extensions,
  * BASELINE.json). All per-row column expressions — no shuffle, fully
  * parallel at any scale; scores are exact-integer arithmetic so results
  * are engine- and order-independent.
  */
object TextAnalysis {

  /** Token/character statistics: token count, distinct-token count, char
    * count, exact average word length.
    */
  def tokenStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("w", split(col(textCol), " "))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_distinct_tokens", size(array_distinct(col("w"))).cast("long"))
      .withColumn("n_chars_m", length(col(textCol)).cast("long"))
      // r19: with single-space tokenization, Σ length(token) is exactly
      // length(text) − (n_tokens − 1) separator chars — pure codegen
      // arithmetic in place of the interpreted per-token aggregate fold
      // (identical integers, so the double ratio is bit-equal)
      .withColumn("avg_word_len",
        (length(col(textCol)).cast("long") - (col("n_tokens") - lit(1L)))
          .cast("double") / col("n_tokens"))
      .drop("w")

  /** Tiny per-language stopword lexicons for the n-gram/stopword heuristic
    * language id. Deliberately small — the operator shape (score per
    * language, argmax) is what scales, the lexicon is a parameter.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "fr" -> Seq("le", "la", "les", "et", "que"))

  /** Language id: per-language stopword hit counts (exact integers) and
    * argmax with a deterministic tie-break (alphabetical language order,
    * `und` = undetermined when every score is zero).
    */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scored = stopwords.toSeq.sortBy(_._1).foldLeft(
      docs.withColumn("w", split(col(textCol), " "))) {
      case (df, (lang, words)) =>
        val list = words.map(w => s"'$w'").mkString(", ")
        df.withColumn(s"score_$lang",
          expr(s"size(filter(w, t -> t IN ($list)))").cast("long"))
    }
    val langs = stopwords.keys.toSeq.sorted
    val best = langs.map(l => col(s"score_$l")).reduce((a, b) => greatest(a, b))
    // earlier (alphabetical) language wins ties; all-zero scores → "und"
    val predFirst = langs.foldLeft(lit(null).cast("string")) { (acc, l) =>
      coalesce(acc, when(col(s"score_$l") === best && best > 0, lit(l)))
    }
    scored
      .withColumn("predicted_lang", coalesce(predFirst, lit("und")))
      .drop("w")
  }

  /** Quality score in [0,1]: weighted blend of length saturation,
    * stopword ratio, and lexical diversity — all from exact integer counts,
    * one deterministic double expression.
    */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val en = stopwords("en").map(w => s"'$w'").mkString(", ")
    docs
      .withColumn("w", split(col(textCol), " "))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_stop", expr(s"size(filter(w, t -> t IN ($en)))").cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("w"))).cast("long"))
      .withColumn("quality",
        least(col("n_tokens").cast("double") / 100, lit(1.0)) * 0.4 +
          (col("n_stop").cast("double") / col("n_tokens")) * 0.3 +
          (col("n_distinct").cast("double") / col("n_tokens")) * 0.3)
      .drop("w")
  }

  /** Content fingerprints: md5 digest (cross-engine oracle-able) and the
    * codegen'd FNV-1a rolling hash ([[graft.functions.RollingHash64]]).
    */
  def fingerprints(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("md5_fp", md5(col(textCol)))
      .withColumn("rolling_fp", rolling_hash64(col(textCol)))

  /** Email-address pattern kept RE2-compatible (no backrefs/lookaround) so
    * the same regex text runs in Spark (java.util.regex) and DuckDB (RE2) —
    * and would run in a Trino/BigQuery oracle too.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** North-American-style phone pattern (e.g. 555-0100, (555) 010-0100). */
  val phoneRe = "\\(?[0-9]{3}\\)?[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}"

  /** Repetition statistics — the repeated-n-gram quality filters of Rae et
    * al.'s Gopher rules (arXiv:2112.11446 §A1.1): fraction of bigrams
    * occupied by the single most frequent bigram, and fraction occupied by
    * any repeated bigram. Exact integer counts (bigram histogram via
    * explode + two-level aggregation — one shuffle on (doc, gram), partial
    * map-side combine) and a deterministic double ratio, so the whole
    * filter oracles bit-exact.
    */
  def repetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // token array bound as a lambda var (not an alias) so the split runs
    // once per row, not once per bigram — see Dedup.withShingles
    // r19: codegen byte-slice bigrams replace the interpreted HOF chain
    // (split -> per-bigram slice + concat_ws + lambda fences) — bit-equal
    // by construction, pinned by FunctionsSpec ("WordGrams"); the DuckDB
    // oracles replaying the HOF spelling are unchanged.
    val grams = docs
      .select(col("doc_id"), explode(
        graft.functions.WordGrams.word_grams(col(textCol), 2)).as("g"))
    grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_bigrams"),
        max(col("c")).as("top_bigram_n"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("repeated_bigram_n"))
      .withColumn("top_bigram_frac",
        col("top_bigram_n").cast("double") / col("n_bigrams"))
      .withColumn("repeated_bigram_frac",
        col("repeated_bigram_n").cast("double") / col("n_bigrams"))
  }

  /** Corpus-level bigram commonness / novelty — the cross-document
    * counterpart of [[repetitionStats]]: how typical is each document's
    * phrasing for THIS corpus. Every bigram occurrence is weighted by the
    * corpus-wide occurrence count of that bigram; a document of boilerplate
    * scores high (its bigrams are everywhere), novel text scores low —
    * the exact-integer stand-in for an n-gram LM perplexity filter (no
    * log, so it oracles bit-exact; monotone in the same direction).
    *
    * Scale shape: one (doc,bigram) aggregate, one bigram-level aggregate
    * (vocabulary-sized), one equi-join back on the bigram, one per-doc
    * sum — all shuffles on bigram/doc keys, corpus-token-linear.
    */
  def bigramNovelty(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // r19: codegen byte-slice bigrams replace the interpreted HOF chain
    // (split -> per-bigram slice + concat_ws + lambda fences) — bit-equal
    // by construction, pinned by FunctionsSpec ("WordGrams"); the DuckDB
    // oracles replaying the HOF spelling are unchanged.
    val grams = docs
      .select(col("doc_id"), explode(
        graft.functions.WordGrams.word_grams(col(textCol), 2)).as("g"))
    val perDoc = grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val corpus = perDoc.groupBy(col("g")).agg(sum(col("c")).as("cf"))
    perDoc.join(corpus, "g")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("cf")).as("freq_sum"))
      .withColumn("commonness", expr("freq_sum div n_bigrams"))
      // 1e6 when every bigram is corpus-unique, → 0 as phrasing gets common
      .withColumn("novelty_ppm", expr("1000000L * n_bigrams div freq_sum"))
  }

  /** Overlapping token-window chunking — the canonical LLM preprocessing
    * step (context-window packing): chunk starts advance by
    * `chunkTokens - overlap`, the final chunk absorbs the tail, short docs
    * yield one chunk. Explode shape: one shuffle-free generator per doc,
    * chunk boundaries and text are exact functions of the token array so
    * the whole operator oracles bit-exact.
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 64, overlap: Int = 16,
      textCol: String = "text"): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .withColumn("w", split(col(textCol), " "))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("w"),
        posexplode(expr(s"sequence(1L, greatest(1L, n_tokens - $overlap), $stride)"))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("n_tokens"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_token"),
        expr(s"size(slice(w, int(start), $chunkTokens))").cast("long").as("chunk_tokens"),
        expr(s"concat_ws(' ', slice(w, int(start), $chunkTokens))").as("chunk_text"))
  }

  /** Deterministic stratified sampling: keep `perKey` rows per stratum,
    * chosen by a Weyl-style pseudo-random permutation of the id
    * ((id·2654435761) mod p — exact BIGINT arithmetic, so any engine
    * reproduces the same sample, unlike RNG-based sampleBy). The balanced
    * per-class downsampling step of a training-data pipeline: one window
    * shuffle on the stratum key, no global sort.
    */
  def stratifiedSample(docs: DataFrame, strataCol: String, perKey: Int,
      idCol: String = "doc_id"): DataFrame = {
    // overflow-free modular spelling shared with the Mixing samplers —
    // the naive id * 2654435761 product aborts under ANSI at id ≥ ~3.5e9
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(Mixing.permute(col(idCol)), col(idCol))
    docs
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perKey)
      .drop("__rn")
  }

  /** TF-IDF-style keyword extraction: the top-`k` most distinctive terms
    * per document, ranked by a LOG-FREE integer weight
    * tf·10⁶ div df (BIGINT truncating division). Dropping the usual
    * log(N/df) keeps the ranking monotone in tf/df — the same top-k order
    * for any fixed tf — while staying bit-exact across engines (ln/exp
    * diverge by 1 ulp between libms, which breaks hash-equality gates;
    * see TpchQueries' bit-exactness rules). Ties break by term asc.
    *
    * Scale shape: explode → groupBy(doc, term) with partial (map-side)
    * aggregation → groupBy(term) for df (a term-cardinality-sized frame)
    * → hash join back on term → one window per doc for the top-k. Two
    * aggregation shuffles + one join shuffle on the term key, nothing
    * pairwise; the df side is the only frame that grows with vocabulary,
    * not corpus size.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5,
      textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = docs
      .select(col("doc_id"), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("weight").desc, col("term"))
    tf.join(df, "term")
      .withColumn("weight", expr("tf * 1000000L div df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"),
        col("tf"), col("df"), col("weight"))
  }

  /** BM25 keyword ranking — full-text relevance scoring over the corpus
    * for a fixed bag of query terms (reference has no search operator;
    * this is the retrieval half of a data-curation / RAG pipeline:
    * "find the documents most about X").
    *
    * Okapi BM25 with k1=1.2, b=0.75. Every input to the score is an exact
    * integer (tf, df, dl, N, A=Σdl), and the per-term score is evaluated
    * as a FIXED expression tree over those integers:
    *
    *   idf   = (N - df + 0.5)/(df + 0.5)        = (2(N-df)+1)/(2df+1)
    *   tfp   = tf(k1+1) / (tf + k1(1-b+b·dl·N/A))
    *         = 22·tf·A  / (10·tf·A + 3·A + 9·dl·N)   (×10A both sides)
    *   score_term = FLOOR(1e6 · idf · tfp)  :: BIGINT
    *
    * Determinism across engines: each double op (int→double cast, ×, ÷)
    * is IEEE-754 correctly rounded, so two engines evaluating the SAME
    * tree produce bit-identical doubles; FLOOR then lands on the same
    * integer. The only order-sensitive step — summing term scores per
    * doc — happens AFTER the floor, as a BIGINT sum (associative), so
    * partial-aggregation order can't change the result. (The log-idf of
    * textbook BM25 is deliberately replaced by its rational argument:
    * ln() is not correctly rounded and differs across libms. The ratio
    * is monotone in the same direction, so SINGLE-term rankings agree
    * exactly with textbook BM25; for multi-term queries the per-doc sum
    * of ratios is not a monotone transform of the sum of logs, so
    * orderings are deterministic and self-consistent but can diverge
    * from textbook Okapi on documents whose scores straddle terms.)
    *
    * Scale shape: dl is a per-row `size(split())` — no explode for the
    * length pass; N and A are one scalar aggregate broadcast to every
    * row; tf explodes only rows' matching terms (the IN-list filter is
    * inside the generator projection, so the shuffle carries query-term
    * postings only, not the whole corpus vocabulary); df is a ≤|terms|-row
    * frame joined by broadcast. One groupBy(doc) shuffle on postings +
    * one global top-k. At 100 TB the only corpus-sized exchange is the
    * per-doc posting aggregation, which is proportional to occurrences
    * of the query terms, not corpus tokens.
    */
  def bm25Rank(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, "k must be positive")
    val lens = docs.select(col("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("dl"))
    val totals = lens.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("a_tokens"))
    val termArray = array(queryTerms.map(lit): _*)
    val withQt = docs.withColumn("qt", termArray)
    val tfQ = withQt
      .select(col("doc_id"),
        explode(expr(s"filter(split(`$textCol`, ' '), t -> array_contains(qt, t))"))
          .as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tfQ.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tfQ
      .join(broadcast(df), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("score_term", expr(
        """CAST(FLOOR(CAST(1000000 AS DOUBLE) *
          |  ((CAST(2*(n_docs - df) + 1 AS DOUBLE) / CAST(2*df + 1 AS DOUBLE)) *
          |   ((CAST(22 AS DOUBLE)*tf*a_tokens) /
          |    (CAST(10 AS DOUBLE)*tf*a_tokens + CAST(3 AS DOUBLE)*a_tokens +
          |     CAST(9 AS DOUBLE)*dl*n_docs)))) AS BIGINT)""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(sum(col("score_term")).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** CCNet-style text normalization — the canonical pre-hash cleanup every
    * curation pipeline runs before fingerprinting/dedup: Unicode NFC
    * (custom codegen expression, [[graft.functions.NfcNormalize]]),
    * lowercase, punctuation→space, whitespace collapse, trim. Pure per-row
    * column expressions: zero shuffle, whole-stage codegen with the scan,
    * linear at any corpus size. `\p{L}\p{N}` character classes have the
    * same semantics in Java regex and RE2, so the result oracles exactly.
    */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("norm_text",
        trim(regexp_replace(
          regexp_replace(
            lower(graft.functions.NfcNormalize.nfc_normalize(col(textCol))),
            "[^\\p{L}\\p{N}\\s]+", " "),
          "\\s+", " ")))
      .withColumn("norm_tokens", size(split(col("norm_text"), " ")).cast("long"))

  /** Vocabulary build + out-of-vocabulary rate — the tokenizer-coverage
    * signal: build the top-`vocabSize` token vocabulary by corpus
    * frequency (deterministic tiebreak on the token), then score every
    * document's OOV fraction against it in exact ppm. Pipelines threshold
    * on OOV rate to drop documents a fixed tokenizer would shred.
    *
    * Scale shape: one token-count aggregate (map-side combined), one
    * global top-k for the vocabulary (vocab-sized, broadcast), then one
    * per-token broadcast probe + per-doc aggregate — corpus-token-linear,
    * with the only global structure a `vocabSize`-row frame.
    */
  def vocabOov(docs: DataFrame, vocabSize: Int = 50,
      textCol: String = "text"): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val toks = docs.select(col("doc_id"),
      explode(split(col(textCol), " ")).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(true).as("__in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000L div n_tokens"))
  }

  /** PII redaction — the scrubbing pass every training-data pipeline runs
    * before anything else sees the text: mask emails and phone numbers,
    * count what was masked (the counts drive corpus-level PII-rate
    * monitoring). Pure per-row codegen'd expressions, zero shuffle,
    * linear scan at any scale.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(emailRe), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(regexp_replace(col(textCol), emailRe, "<EMAIL>"),
          lit(phoneRe), lit(0))).cast("long"))
      .withColumn("clean_text",
        regexp_replace(regexp_replace(col(textCol), emailRe, "<EMAIL>"), phoneRe, "<PHONE>"))

  /** Corpus-LM fluency score — the CCNet-style filter that ranks
    * documents by how typical their tokens are of the corpus itself,
    * without an external language model: train unigram counts over the
    * whole corpus, then score each document by its MEAN token frequency
    * (parts-per-billion). The arithmetic mean of per-token probabilities
    * replaces perplexity's geometric mean so the score stays in exact
    * integer arithmetic end-to-end (no log/exp — see the oracle-
    * exactness rules); it ranks rare-token-heavy (noisy/junk) documents
    * low and common-prose documents high just like a perplexity cut,
    * though the two orderings are not formally identical.
    *
    * Scale: the unigram table is vocabulary-sized — millions of rows
    * against billions of documents. The probe join carries no explicit
    * broadcast hint (a hint is honored unconditionally; a web-scale
    * vocab can outgrow the driver): AQE broadcasts it while it fits and
    * falls back to a shuffle join on the token key when it doesn't.
    * Corpus pass = one explode + one groupBy(token) + one
    * groupBy(doc_id), all map-side-combinable.
    */
  def unigramLmScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    toks.join(counts, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("sum_c"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        expr("(sum_c * 1000000000L) DIV (n_total * n_tokens)")
          .as("mean_freq_ppb"))
  }

  /** Bigram-LM fluency score — the n-gram step up from
    * [[unigramLmScore]], the no-external-model stand-in for a
    * KenLM-style perplexity filter (the CCNet / Wenzek et al. 2020 LM
    * stage). Per document: the mean maximum-likelihood conditional
    * probability of each adjacent token pair, P(b|a) = C(a b) / C(a)
    * with C(a) the corpus unigram count, kept in exact parts-per-billion
    * integer math (`DIV`) so results are partition-invariant and
    * oracle-replayable. Documents with < 2 tokens have no bigrams and
    * come back with n_bigrams = 0, mean_cond_ppb = 0.
    *
    * Scale: bigram generation is per-row codegen (`zip_with` over
    * shifted `slice`s — no shuffle, no self-join); the corpus C(a b)
    * and C(a) tables cost one map-side-combined shuffle each and are
    * vocab-sized, not corpus-sized. The probe joins carry NO explicit
    * broadcast hint — a hint is honored unconditionally and the
    * distinct-bigram table grows with the corpus, so a hard-coded
    * broadcast would collect it to the driver and OOM at 100 TB.
    * Instead autoBroadcastJoinThreshold/AQE broadcast the tables while
    * they fit (they do at gate scale) and fall back to shuffle joins on
    * the gram/token key when they don't — same plan at gate scale,
    * safe at corpus scale.
    */
  def bigramLmScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // r19: codegen strict byte-slice bigrams replace the interpreted
    // zip_with-over-shifted-slices chain (same grams: sub-2-token docs
    // emit nothing); the conditioning token is the gram's byte prefix up
    // to its first space, recovered by codegen substring_index instead
    // of being carried through the lambda. FunctionsSpec pins the
    // equivalence; oracles unchanged.
    val grams = docs.select(col("doc_id"), explode(
        graft.functions.WordGrams.word_grams_strict(col(textCol), 2)).as("gram"))
      .select(col("doc_id"), substring_index(col("gram"), " ", 1).as("tok_a"),
        col("gram"))
    val tokCounts = docs.select(explode(split(col(textCol), " ")).as("tok_a"))
      .groupBy(col("tok_a")).agg(count(lit(1)).as("c_tok"))
    val gramCounts = grams.groupBy(col("gram")).agg(count(lit(1)).as("c_gram"))
    val per = grams
      .join(gramCounts, Seq("gram"))
      .join(tokCounts, Seq("tok_a"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("(c_gram * 1000000000L) DIV c_tok")).as("sum_ppb"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(expr("sum_ppb DIV n_bigrams"), lit(0L)).as("mean_cond_ppb"))
  }

  /** Corpus-level n-gram frequency — the repetition/boilerplate census
    * run before inter-document span dedup: the most frequent word
    * n-grams across the whole corpus (headers, footers, license
    * blurbs surface at the top). Adjacent-token n-grams come from
    * zipping the token array against itself shifted (`zip_with` over
    * two `slice`s) — per-row codegen, no self-join; the only shuffle
    * is the count groupBy, map-side combined on the n-gram hash.
    */
  def topNgrams(docs: DataFrame, n: Int = 2, k: Int = 50,
      textCol: String = "text"): DataFrame = {
    require(n == 2, "topNgrams currently implements bigrams (n=2)")
    // r19: codegen strict byte-slice bigrams (see bigramLmScore) — same
    // grams as the zip_with formulation, inside whole-stage codegen
    docs
      .select(explode(
        graft.functions.WordGrams.word_grams_strict(col(textCol), 2)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(k)
  }

  /** BPE merge-candidate counting — the inner statistic of byte-pair-
    * encoding vocabulary induction (Sennrich et al., ACL 2016): over the
    * corpus word-frequency table, count every ADJACENT CHARACTER PAIR
    * weighted by its word's corpus frequency. The top pair is the next
    * BPE merge; re-running after applying a merge (outside this
    * operator) iterates the induction.
    *
    * Scale: the corpus collapses to its word-frequency table FIRST (one
    * map-side-combined shuffle on the word — the table is |vocab|-sized,
    * not corpus-sized), then pairs explode off the deduplicated words,
    * so the pair stage costs |vocab|·avg_len regardless of corpus row
    * count, and the corpus text itself never moves twice.
    */
  /** Whitespace-split class spelled so Java regex (Spark) and RE2
    * (the DuckDB oracles) match the SAME character set: Java's `\s` is
    * `[ \t\n\x0B\f\r]` but RE2's `\s` lacks `\x0B`, so the vertical tab
    * is unioned in explicitly — a corpus containing U+000B would
    * otherwise make the two engines' word boundaries (and every BPE
    * count downstream) diverge. Both engines parse `\x0B` identically.
    */
  val WsSplitRegex: String = "[\\s\\x0B]+"

  /** Any-character capture agreeing across Java and RE2: Java's `.`
    * excludes the line separators U+0085/U+2028/U+2029 (which survive a
    * whitespace split — neither dialect's `\s` contains them) while
    * RE2's `.` matches U+0085 and friends; `[\s\S]` is the
    * everything-class in BOTH dialects, so each in-word character gets
    * boundary-wrapped identically in the two engines.
    */
  val AnyCharCapture: String = "([\\s\\S])"

  def bpePairCounts(docs: DataFrame, k: Int = 50,
      textCol: String = "text"): DataFrame = {
    val words = docs
      .select(explode(split(lower(col(textCol)), WsSplitRegex)).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    words
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Canonical merge list for the [[bpeEncode]] gate — a small learned-
    * tokenizer stand-in ranked the way BPE induction would emit it over
    * an English-ish corpus (th/the/an/in/er/or/re/st). Production swaps
    * in the merge table loaded from a real tokenizer file; the
    * application machinery is identical for any fixed list.
    */
  val DefaultBpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "a" -> "n", "i" -> "n",
    "e" -> "r", "o" -> "r", "r" -> "e", "s" -> "t")

  /** BPE merge APPLICATION — the encode side of byte-pair encoding
    * (Sennrich et al., ACL 2016): given a FIXED learned merge list
    * (rank-ordered pairs), tokenize each document the way the trained
    * tokenizer would and report tokenizer-aware token counts, replacing
    * the whitespace counts every token-budget plan otherwise runs on
    * ([[Mixing.tokenBudgetPlan]] et al. accept these counts directly).
    *
    * Encoding is EXACT GREEDY, applied rank-by-rank: each word becomes a
    * boundary-wrapped symbol stream (`␟c␟` per character, U+001F as the
    * separator — a character that cannot appear in text), and merge
    * (x, y) is ONE literal left-to-right non-overlapping
    * `replace('␟x␟␟y␟' → '␟xy␟')` pass. Because every symbol carries its
    * OWN leading and trailing separator (adjacent symbols are separated
    * by TWO ␟), a match consumes only whole symbols and leaves the
    * neighbours' boundaries intact, so repeated-symbol runs merge
    * greedily left-to-right (`a a a a` + merge(a,a) → `aa aa`, not
    * `aa a a`), and a pair can never match a symbol's prefix/suffix.
    * Applying rank r globally before rank r+1 is equivalent to
    * lowest-rank-first greedy encoding: a merge replaces two symbols
    * with a FUSED one, so it can only create new pairs INVOLVING the new
    * symbol — pairs of pre-existing symbols (all earlier ranks) are
    * never created, hence each rank's single pass is final. The token
    * count per word is half its separator count; no string ever leaves
    * the row.
    *
    * Scale: pure per-row whole-stage-codegen expressions — split, |merges|
    * literal replaces, two length()s — zero shuffle, zero UDFs, zero
    * driver state; the merge list is compiled INTO the expression tree
    * (a fixed tokenizer is a constant of the job, not data). The DuckDB
    * oracle replays the identical replace chain, and `replace` is
    * left-to-right non-overlapping in both engines, so counts are
    * bit-exact.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)] = DefaultBpeMerges,
      textCol: String = "text", keepCols: Seq[String] = Nil): DataFrame = {
    val sep = "\u001F"
    require(merges.nonEmpty, "bpeEncode: merge list must be non-empty")
    merges.foreach { case (x, y) =>
      require(x.nonEmpty && y.nonEmpty && !(x + y).contains(sep),
        "bpeEncode: merge symbols must be non-empty and must not contain U+001F") }
    val words = split(lower(coalesce(col(textCol), lit(""))), WsSplitRegex)
    def encodeWord(w: Column): Column = merges.foldLeft(
      regexp_replace(w, AnyCharCapture, sep + "$1" + sep)) { case (acc, (x, y)) =>
        replace(acc, lit(sep + x + sep + sep + y + sep), lit(sep + x + y + sep))
    }
    // seps per post-merge string = 2·symbols; shiftright(…,1) keeps the
    // count in exact integer arithmetic (Column `/` would go double)
    def symCount(s: Column): Column =
      shiftright(length(s) - length(replace(s, lit(sep), lit(""))), 1)
    docs.select(col("doc_id") +: keepCols.map(col) :+
      size(filter(words, w => length(w) >= 1)).cast("long").as("n_words") :+
      aggregate(words, lit(0L), (acc, w) => acc + length(w)).as("n_chars") :+
      aggregate(transform(words, encodeWord(_)), lit(0L),
        (acc, s) => acc + symCount(s)).as("n_tokens_bpe"): _*)
  }

  /** Tokenizer FERTILITY by language — tokens-per-word under a fixed
    * merge list, per [[langId]]-predicted language: the statistic that
    * drives multilingual token budgeting (a language whose words shred
    * into many subword tokens consumes budget faster than its word
    * count suggests). `fertility_ppm = 1e6 * sum(tokens) div sum(words)` in exact
    * integer arithmetic per language.
    *
    * Scale: langId's stopword scores and [[bpeEncode]]'s merge chain
    * are BOTH per-row expressions, so they fuse into ONE corpus scan
    * (no join - the naive compose would join two scans on doc_id),
    * followed by a single map-side-combined |languages|-row aggregate.
    */
  def tokenizerFertility(docs: DataFrame,
      merges: Seq[(String, String)] = DefaultBpeMerges,
      textCol: String = "text"): DataFrame =
    tokenizerFertilityReport(tokenizerFertilityCounts(docs, merges, textCol))

  /** The MERGE-ABLE half of [[tokenizerFertility]] (r14): per-language
    * exact counters (docs, words, BPE tokens) for one corpus slice. All
    * three are sums, so partial counters from disjoint slices
    * re-aggregate (`sum` by language) to the whole-corpus counters
    * exactly — the property the incremental/streaming form
    * ([[graft.streaming.Streams.tokenizerFertilityIncremental]]) relies
    * on. Same fused one-scan shape as the one-shot operator.
    */
  def tokenizerFertilityCounts(docs: DataFrame,
      merges: Seq[(String, String)] = DefaultBpeMerges,
      textCol: String = "text"): DataFrame =
    bpeEncode(langId(docs, textCol), merges, textCol,
      keepCols = Seq("predicted_lang"))
      .groupBy(col("predicted_lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens_bpe")).as("n_tokens_bpe"))

  /** Derive the fertility report from (possibly merged) counters:
    * `fertility_ppm = 1e6 * Σtokens div Σwords` in exact integer
    * arithmetic, ordered by language.
    */
  def tokenizerFertilityReport(counts: DataFrame): DataFrame =
    counts
      .withColumn("fertility_ppm",
        when(col("n_words") === 0L, lit(null).cast("long"))
          .otherwise(expr("1000000L * n_tokens_bpe div n_words")))
      .orderBy(col("predicted_lang"))

  /** BPE vocabulary INDUCTION — the learning loop [[bpePairCounts]] is
    * one statistic of and [[bpeEncode]] consumes: `rounds` iterations of
    * (count adjacent symbol pairs weighted by word frequency → take the
    * most frequent pair, ties by pair lexicographically → merge it
    * everywhere), exactly Sennrich et al.'s algorithm. Returns one row
    * per learned merge: `(round, x, y, merged, n)` with `n` the exact
    * weighted pair count that won the round, ordered by `round`; fewer
    * than `rounds` rows come back if the corpus runs out of pairs.
    *
    * The corpus collapses to its word-frequency table first (one
    * map-side-combined shuffle — |vocab| rows, not corpus rows). The
    * symbol stream `s` is [[bpeEncode]]'s boundary-wrapped form, so each
    * merge is the same greedy whole-symbol replace the encoder applies.
    * Then one bounded collect of that `(wc, s)` table
    * ([[graft.ops.Tuning.broadcastRows]]), read straight from the
    * collapse, picks the path:
    *   - Driver path: a table at or under
    *     `spark.sql.autoBroadcastJoinThreshold` is learned on the driver
    *     (`driverMerges`), evaluating Spark's own `StringTrim`,
    *     `StringSplit` and `StringReplace` over its rows, with exact pair
    *     sums and the same argmax order (`n` descending, then `x`, then
    *     `y` in `UTF8String` binary order). The merges are returned as a
    *     local relation. No job runs per round.
    *   - Loop path: over the threshold, or with the threshold at `-1`,
    *     the table is materialized once (one more evaluation of the
    *     collapse than the bounded collect's), and
    *     each round's winning pair is a 1-row argmax frame, materialized
    *     by [[graft.ops.Tuning.materialize]] (the loop-flattening
    *     discipline — a 1-row deterministic frame, so partition
    *     invariance is unaffected) and broadcast-joined back so the NEXT
    *     round's `replace` takes the pair as COLUMNS. Every round costs
    *     one vocab-sized pair aggregation + a 1-row broadcast, whatever
    *     the corpus size.
    * Both return the same rows. Rounds are sequential by nature (BPE is
    * an inherently iterative algorithm). Every materialization follows
    * the library's one rule: a reliable checkpoint when the context has
    * a checkpoint dir (a cluster learn then survives executor loss), a
    * local one otherwise. On the loop path the argmax checkpoints back
    * the returned frame, so nothing is unpersisted inside the operator.
    *
    * Session conf: neither path writes any; the loop path's rounds run at
    * the session's shuffle width.
    */
  def bpeLearnMerges(docs: DataFrame, rounds: Int = 8,
      textCol: String = "text"): DataFrame = {
    require(rounds > 0 && rounds <= 64, "rounds must be in 1..64")
    // the bounded collect reads the collapse itself; only the loop
    // materializes it, since each round's argmax is an action of its own
    // and would otherwise replay the corpus scan + collapse shuffle.
    // (r20 note: a cores-wide spread of the collapse was tried and
    // REVERTED — the measured loop cost is per-job scheduling, ~49 jobs
    // on 56 tasks, not map-side compute, so the spread only added a
    // shuffle and 6× the task count for flat-to-worse time.)
    val words = docs
      .select(explode(split(lower(coalesce(col(textCol), lit(""))), WsSplitRegex)).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(col("wc"),
        regexp_replace(col("word"), AnyCharCapture, BpeSep + "$1" + BpeSep).as("s"))
    val merges = graft.ops.Tuning.broadcastRows(words) match {
      case Some(vocab) => driverMerges(docs.sparkSession, vocab, rounds)
      case None => mergeLoop(graft.ops.Tuning.materialize(words), rounds)
    }
    merges.orderBy(col("round"))
  }

  /** The separator that boundary-wraps every BPE symbol (U+001F). */
  private val BpeSep = "\u001F"

  /** [[bpeLearnMerges]]' rounds on the driver over the `(wc, s)` vocab
    * rows: the loop's pair aggregation, argmax and replace, with Spark's
    * own string expressions.
    */
  private def driverMerges(spark: org.apache.spark.sql.SparkSession,
      vocab: Array[org.apache.spark.sql.catalyst.InternalRow], rounds: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val sep = UTF8String.fromString(BpeSep)
    val sep2 = UTF8String.concat(sep, sep)
    val s = BoundReference(0, StringType, nullable = false)
    val symbols = StringSplit(StringTrim(s, Some(Literal(sep, StringType))),
      Literal(sep2, StringType), Literal(-1))
    val wc = vocab.map(_.getLong(0))
    var words = vocab.map(_.getUTF8String(1))
    val out = Seq.newBuilder[InternalRow]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val n = scala.collection.mutable.HashMap.empty[(UTF8String, UTF8String), Long]
      words.indices.foreach { i =>
        val syms = symbols.eval(InternalRow(words(i))).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        for (k <- 0 until syms.numElements() - 1) {
          val p = (syms.getUTF8String(k), syms.getUTF8String(k + 1))
          n(p) = n.getOrElse(p, 0L) + wc(i)
        }
      }
      exhausted = n.isEmpty
      if (!exhausted) {
        // `UTF8String.compareTo` is Spark's binary string order
        val ((x, y), c) = n.minBy { case ((x, y), c) => (-c, x, y) }
        val xy = UTF8String.concat(x, y)
        out += InternalRow(r.toLong, x, y, xy, c)
        val merge = StringReplace(s, Literal(UTF8String.concat(sep, x, sep2, y, sep), StringType),
          Literal(UTF8String.concat(sep, xy, sep), StringType))
        words = words.map(w => merge.eval(InternalRow(w)).asInstanceOf[UTF8String])
      }
      r += 1
    }
    org.apache.spark.sql.GraftBridge.localFrame(spark, StructType(Seq(
      StructField("round", LongType), StructField("x", StringType), StructField("y", StringType),
      StructField("merged", StringType), StructField("n", LongType))), out.result())
  }

  /** The distributed rounds of [[bpeLearnMerges]] over the materialized
    * `(wc, s)` vocab `words`.
    */
  private def mergeLoop(words: DataFrame, rounds: Int): DataFrame = {
    val sep = BpeSep
    val sep2 = sep + sep
    def topPair(cur: DataFrame): DataFrame = {
      val syms = split(trim(col("s"), sep), sep2)
      cur
        .select(col("wc"), explode(zip_with(
          slice(syms, lit(1), size(syms) - 1), slice(syms, lit(2), size(syms) - 1),
          (a, b) => struct(a.as("x"), b.as("y")))).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("x"), col("y"))
        .limit(1)
    }
    val out = Seq.newBuilder[DataFrame]
    var cur = words
    for (r <- 1 to rounds) {
      // 1-row deterministic frame; materializing keeps round r+1's plan
      // from re-nesting every earlier round's aggregation
      val top = graft.ops.Tuning.materialize(topPair(cur))
      out += top.select(lit(r.toLong).as("round"), col("x"), col("y"),
        concat(col("x"), col("y")).as("merged"), col("n"))
      cur = cur.crossJoin(broadcast(top.select(col("x"), col("y"))))
        .select(col("wc"), replace(col("s"),
          concat(lit(sep), col("x"), lit(sep2), col("y"), lit(sep)),
          concat(lit(sep), col("x"), col("y"), lit(sep))).as("s"))
    }
    out.result().reduce(_ unionByName _)
  }

  /** BPE LEARN-THEN-ENCODE — the closed loop: induce `rounds` merges
    * from the corpus ([[bpeLearnMerges]]) and tokenize the SAME corpus
    * with them, reporting per-document tokenizer-aware counts. This is
    * the shape a pipeline runs when the tokenizer is trained on the
    * data it will budget — unlike [[bpeEncode]]'s fixed
    * [[DefaultBpeMerges]], the merge table here is DATA.
    *
    * The merge list is never collected: the learned merges (a local
    * relation on [[bpeLearnMerges]]' driver path, checkpointed argmax
    * rows on its loop path; the only collect is the learn's bounded one
    * of its vocab) collapse to a 1-row frame holding the round-ordered
    * `(round, x, y)` array (`sort_array(collect_list(struct(…)))` under a
    * global agg — ≤ `rounds` elements), broadcast-cross-joined onto the
    * corpus, and applied per word with `aggregate(ms, wrapped, replace)`
    * — the SAME boundary-wrapped whole-symbol replace as the fixed-list
    * encoder, just folding over an array column instead of a compiled-in
    * literal chain. A corpus that exhausts before `rounds` simply yields
    * a shorter array; `aggregate` applies what exists.
    *
    * Scale: learning = one materialized corpus collapse + `rounds`
    * vocab-sized rounds, on the driver for a broadcast-sized vocab (see
    * [[bpeLearnMerges]]); encoding = ONE
    * corpus scan with per-row codegen'd expressions and a 1-row
    * broadcast — no shuffle on the encode side at any corpus size.
    */
  def bpeEncodeLearned(docs: DataFrame, rounds: Int = 8,
      textCol: String = "text"): DataFrame = {
    val sep = "\u001F"
    val sep2 = sep + sep
    val ms = bpeLearnMerges(docs, rounds, textCol)
      .groupBy()
      .agg(sort_array(collect_list(struct(col("round"), col("x"), col("y"))))
        .as("ms"))
    val words = split(lower(coalesce(col(textCol), lit(""))), WsSplitRegex)
    def encodeWord(w: Column): Column =
      aggregate(col("ms"), regexp_replace(w, AnyCharCapture, sep + "$1" + sep),
        (acc, m) => replace(acc,
          concat(lit(sep), m.getField("x"), lit(sep2), m.getField("y"), lit(sep)),
          concat(lit(sep), m.getField("x"), m.getField("y"), lit(sep))))
    def symCount(s: Column): Column =
      shiftright(length(s) - length(replace(s, lit(sep), lit(""))), 1)
    docs.crossJoin(broadcast(ms))
      .select(col("doc_id"),
        size(filter(words, w => length(w) >= 1)).cast("long").as("n_words"),
        aggregate(transform(words, encodeWord(_)), lit(0L),
          (acc, s) => acc + symCount(s)).as("n_tokens_bpe"))
  }

  /** Per-source corpus data card — the one-page report a pipeline
    * publishes with every crawl snapshot: volume (docs, tokens, chars),
    * language mix, and exact duplicate rate, all integer-exact so any two
    * engines (or two runs on different partitionings) agree bit-for-bit.
    * `dup_ppm = floor(1e6·(n_docs − distinct md5)/n_docs)` counts docs
    * beyond the first of each identical text; `en_ppm` is the share of
    * `targetLang` rows in `langCol` (the column name stays `en_ppm` for
    * gate stability whatever language is targeted). Scale shape: one
    * explode-free
    * pass of per-row expressions, then TWO map-side-combined aggregations —
    * the (source, md5) pre-group bounds the distinct-count shuffle to one
    * row per distinct text (never a global distinct-state set), and the
    * final per-source rollup is |sources| rows. No windows, no joins.
    */
  def corpusDataCard(docs: DataFrame, srcCol: String = "source",
      textCol: String = "text", langCol: String = "lang",
      targetLang: String = "en"): DataFrame = {
    // NULL text is normalized to explicit empty content: 0 tokens /
    // 0 chars and one shared "no content" fingerprint — so n_docs stays
    // consistent with the token/char sums (sum() would silently skip
    // NULLs) and null-text rows group as duplicates OF EACH OTHER (they
    // carry identical content: none), never vanish from the card
    val perRow = docs.select(col(srcCol), col(langCol).as("lang"),
      when(col(textCol).isNull, 0L)
        .otherwise(size(split(col(textCol), " "))).cast("long").as("n_tok"),
      when(col(textCol).isNull, 0L)
        .otherwise(length(col(textCol))).cast("long").as("n_ch"),
      coalesce(md5(col(textCol)), lit("<null-text>")).as("fp"))
    val perText = perRow.groupBy(col(srcCol), col("fp")).agg(
      count(lit(1)).as("n_docs_fp"),
      sum(col("n_tok")).as("tok_fp"),
      sum(col("n_ch")).as("ch_fp"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("en_fp"))
    perText.groupBy(col(srcCol)).agg(
        sum(col("n_docs_fp")).as("n_docs"),
        sum(col("tok_fp")).as("n_tokens"),
        sum(col("ch_fp")).as("n_chars"),
        count(lit(1)).as("n_distinct_texts"),
        sum(col("en_fp")).as("n_en"))
      .select(col(srcCol), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_distinct_texts"),
        expr("1000000L * n_en div n_docs").as("en_ppm"),
        expr("1000000L * (n_docs - n_distinct_texts) div n_docs").as("dup_ppm"))
      .orderBy(col(srcCol))
  }

  /** Quality-filter funnel — the curation dashboard a pipeline publishes
    * before committing to a filter stack: for each rule, how many
    * documents fail it INDEPENDENTLY and how many survive the stack UP
    * TO that rule (the funnel), so rule order and marginal cost are
    * visible at a glance. Rules are Gopher-style per-row predicates in
    * exact integer arithmetic (ratio thresholds cross-multiplied, never
    * divided): token-count band, chars-per-token band, minimum stopword
    * hits, minimum distinct-token ratio. Scale shape: ONE conditional
    * aggregation pass over per-row expressions (no explode, no join —
    * within-row token work stays in the row), then a 4-row explode off
    * the single aggregate row. Corpus-size-independent output.
    */
  def filterFunnel(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val en = stopwords("en").map(w => s"'$w'").mkString(", ")
    // token array bound ONCE per row (the file convention — see
    // repetitionStats); four independent split() calls would quadruple
    // the dominant per-row cost wherever subexpression elimination
    // doesn't fire across the mixed expr()/Column trees
    // NULL text is normalized to zero per-row stats (the corpusDataCard
    // convention in this file): without it length(NULL) makes every rule
    // predicate NULL, so a null-text doc lands in n_docs but in NEITHER
    // count_if(NOT r) nor the survivor stack and the funnel stops tying out
    val perRow = docs
      .select(split(coalesce(col(textCol), lit("")), " ").as("w"),
        coalesce(length(col(textCol)), lit(0)).cast("long").as("len"))
      .select(
        size(col("w")).cast("long").as("n_tok"),
        (col("len") - size(col("w")) + 1).cast("long").as("n_ch"),
        expr(s"size(filter(w, t -> t IN ($en)))").cast("long").as("n_stop"),
        size(array_distinct(col("w"))).cast("long").as("n_dis"))
      .select(
        (col("n_tok") >= 45 && col("n_tok") <= 500).as("r1"),
        (col("n_ch") >= lit(4L) * col("n_tok") &&
          col("n_ch") <= lit(6L) * col("n_tok")).as("r2"),
        (col("n_stop") >= 2L).as("r3"),
        (lit(10L) * col("n_dis") >= lit(3L) * col("n_tok")).as("r4"))
    val agg = perRow.agg(
      count(lit(1)).as("n_docs"),
      expr("count_if(NOT r1)").as("f1"), expr("count_if(NOT r2)").as("f2"),
      expr("count_if(NOT r3)").as("f3"), expr("count_if(NOT r4)").as("f4"),
      expr("count_if(r1)").as("s1"),
      expr("count_if(r1 AND r2)").as("s2"),
      expr("count_if(r1 AND r2 AND r3)").as("s3"),
      expr("count_if(r1 AND r2 AND r3 AND r4)").as("s4"))
    agg.select(explode(expr(
        """array(
          |  named_struct('rule_ord', 1L, 'rule', 'token_count_45_500',
          |    'n_fail', f1, 'n_survive_cum', s1, 'n_docs', n_docs),
          |  named_struct('rule_ord', 2L, 'rule', 'chars_per_token_4_6',
          |    'n_fail', f2, 'n_survive_cum', s2, 'n_docs', n_docs),
          |  named_struct('rule_ord', 3L, 'rule', 'min_stopword_hits_2',
          |    'n_fail', f3, 'n_survive_cum', s3, 'n_docs', n_docs),
          |  named_struct('rule_ord', 4L, 'rule', 'distinct_ratio_30pct',
          |    'n_fail', f4, 'n_survive_cum', s4, 'n_docs', n_docs))""".stripMargin))
        .as("r"))
      .select(col("r.rule_ord"), col("r.rule"), col("r.n_fail"),
        col("r.n_survive_cum"), col("r.n_docs"))
      .orderBy(col("rule_ord"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR'09) — the
    * standard hybrid-retrieval combiner: each ranking contributes
    * 1/(k₀ + rank) per document and the fused order is the contribution
    * sum. Here in exact fixed point (`floor(1e9/(k₀+rank))`, ppb), so
    * fused scores and ties are integer arithmetic — bit-identical on any
    * engine. The 1e9 scale keeps the contribution injective in the rank
    * to (k₀+rank)² ≤ 1e9, i.e. rank ≲ 31 000 — far past any top-k leg —
    * where 1e6 would start flooring distinct ranks to equal values
    * around rank ~940. Inputs are (query_id, doc_id, score) frames from
    * any two retrieval legs (lexical BM25 + embedding cosine is the
    * canonical pair); a leg carrying the same (query_id, doc_id) more
    * than once (e.g. a shard union) is collapsed to its BEST score
    * before ranking, so duplicates can never fan out through the join;
    * ranks are dense per query (score desc, doc_id tiebreak), a document
    * absent from one leg contributes 0 from it, and the output keeps
    * each leg's rank for observability. Scale shape: two
    * per-query-partitioned window ranks (top-k legs are k-row per query
    * — the window never sees the corpus), one full-outer equi-join on
    * (query_id, doc_id), one more per-query window for the fused top-k.
    */
  def rrfFuse(legA: DataFrame, legB: DataFrame, k: Int,
      k0: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && k0 > 0, "k and k0 must be positive")
    def ranked(df: DataFrame, rankName: String) = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      df.select(col("query_id"), col("doc_id"), col("score"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(max(col("score")).as("score"))
        .withColumn(rankName, row_number().over(w).cast("long"))
        .drop("score")
    }
    val a = ranked(legA, "rank_a")
    val b = ranked(legB, "rank_b")
    val joined = a.join(b, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_ppb",
        coalesce(expr(s"CAST(1000000000 AS BIGINT) DIV (${k0}L + rank_a)"), lit(0L)) +
          coalesce(expr(s"CAST(1000000000 AS BIGINT) DIV (${k0}L + rank_b)"), lit(0L)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_ppb").desc, col("doc_id"))
    joined.withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank_a"), col("rank_b"),
        col("rrf_ppb"), col("fused_rank"))
      .orderBy(col("query_id"), col("fused_rank"))
  }
}
