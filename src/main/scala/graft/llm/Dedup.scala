package graft.llm

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.Tuning
import graft.ops.Tuning.materialize

/** Deduplication operators for large-scale training-data pipelines — the
  * north-star extensions beyond the reference's surface (BASELINE.json;
  * SURVEY.md §7.2(7)). Every operator is expressed as shuffle-bounded
  * DataFrame transformations:
  *
  *  - exact dedup: one hash-shuffle on the digest — the 100 TB-safe shape
  *    (never a pairwise compare).
  *  - MinHash LSH: shingle → k min-hashes → b bands; candidate generation
  *    is a self-join on (band, bandKey) buckets, i.e. shuffle on bucket
  *    keys with cost ~ Σ bucket² instead of n² — the standard LSH bound.
  *  - SimHash: 64-bit fingerprints via higher-order aggregates (no
  *    shuffle until the band join).
  *  - n-gram Jaccard: inverted-index join on shingles (shuffle on shingle
  *    hash), exact similarity only for co-bucketed pairs.
  */
object Dedup {

  /** Exact duplicate grouping by content digest. One shuffle on md5(text);
    * `keep_id` is the smallest doc id of each duplicate group.
    */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("h"))
    docs
      .withColumn("h", md5(col(textCol)))
      .withColumn("keep_id", min(col(idCol)).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("keep_id"))
  }

  /** Cross-source duplication report: for each source pair, how many
    * distinct contents appear in BOTH sources and how many cross-source
    * document pairs that makes — the observability query that tells a
    * corpus owner which feeds copy each other (mirrors, scrapes,
    * syndication) before dedup quotas are set.
    *
    * `contentKey` is the canonicalization that defines "same content":
    * `md5(text)` for byte-exact copies, a leading-words digest for
    * boilerplate/syndication (near-identical articles differing in a
    * tail), a normalized-text digest, or a winnowing fingerprint — the
    * default overload uses exact md5.
    *
    * Shape at 100 TB: one key-hashed aggregation to per-(content, source)
    * counts, then a self-equi-join ON THE CONTENT KEY of that already
    * collapsed table — fan-out per key is the number of sources carrying
    * it (bounded by the source count, not the corpus), and pair counts
    * are multiplicity products, so no document pair is ever materialized.
    */
  def crossSourceDupStats(docs: DataFrame, contentKey: Column,
      sourceCol: String): DataFrame = {
    val cnt = docs
      .select(contentKey.as("h"), col(sourceCol).as("src"))
      .groupBy(col("h"), col("src")).agg(count(lit(1)).as("n"))
    cnt.as("a").join(cnt.as("b"),
        col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("shared_texts"),
        sum(col("a.n") * col("b.n")).as("cross_pairs"))
  }

  /** [[crossSourceDupStats]] with the exact-content default key. */
  def crossSourceDupStats(docs: DataFrame): DataFrame =
    crossSourceDupStats(docs, md5(col("text")), "source")

  /** KEEP-BEST dedup over an arbitrary cluster key — the selection policy
    * real pipelines pair with near-dup clustering: within each cluster
    * keep the highest-quality member (longest text, smallest id as the
    * deterministic tiebreak), not the arbitrary first one. `clusterKey`
    * is any canonicalization — a normalized-text digest, a prefix
    * fingerprint, or the `keep_id` column minHashDedup emits. One
    * struct-max window over the cluster key: a single hash shuffle,
    * identical shape to [[exactDedup]].
    */
  def keepBestDedup(docs: DataFrame, clusterKey: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("__ck"))
    docs
      .withColumn("__ck", clusterKey)
      // (len, -id) struct max = longest text, then SMALLEST id on ties
      .withColumn("__best",
        max(struct(length(col(textCol)).as("l"), (-col(idCol)).as("nid"))).over(w))
      .withColumn("keep_id", -col("__best.nid"))
      .withColumn("n_cluster", count(lit(1)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("keep_id"))
      .drop("__ck", "__best")
  }

  /** Span dedup, REWRITE form — the Lee et al. 2022 semantic at window
    * granularity: instead of flagging documents ([[spanDedup]]), REMOVE
    * the duplicated text. Every token covered by any `window`-token span
    * whose globally-first occurrence lies in an earlier document is
    * dropped; the surviving tokens reassemble in order (the first
    * occurrence of every span keeps its text verbatim, later documents
    * keep only their novel spans). Documents shorter than `window` have
    * no spans and pass through unchanged; a fully-duplicated document
    * comes back empty (n_kept = 0) rather than disappearing.
    *
    * Scale shape: span first-occurrence is one groupBy on the span key;
    * coverage is a generator explode of duplicated windows into (doc,
    * pos) pairs (≤ window× the duplicated-token volume) anti-joined
    * against the token positions; reassembly sorts each doc's survivors
    * in memory (bounded by the longest document). Tokens cross the wire
    * as positions + text once — the same budget paragraphDedup pays.
    */
  def spanDedupRewrite(docs: DataFrame, window: Int = 8,
      textCol: String = "text"): DataFrame = {
    require(window >= 2, "window must be >= 2")
    val base = docs.select(col("doc_id"), split(col(textCol), " ").as("w"))
    val toks = base.select(col("doc_id"),
      posexplode(col("w")).as(Seq("pos", "tok")))
    // r19: WordGrams emits the window spans in position order, so
    // posexplode's index IS wpos — same spans as the struct/slice HOF
    // this replaced (the size(w) >= window filter guarantees the
    // full-window branch)
    val wins = docs.select(col("doc_id"), col(textCol))
      .filter(size(split(col(textCol), " ")) >= window)
      .select(col("doc_id"), posexplode(
        graft.functions.WordGrams.word_grams(col(textCol), window))
        .as(Seq("wpos", "span")))
    val firsts = wins.groupBy(col("span")).agg(min(col("doc_id")).as("first_doc"))
    val dupWins = wins.join(firsts, "span")
      .filter(col("first_doc") < col("doc_id"))
      .select(col("doc_id"), col("wpos"))
    val covered = dupWins
      .select(col("doc_id"),
        explode(expr(s"sequence(wpos, wpos + ${window - 1})")).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"))
          .as("text_dedup"))
    base.select(col("doc_id"), size(col("w")).cast("long").as("n_total"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Incremental (cross-snapshot) exact dedup — the shape every refreshed
    * corpus runs: a NEW batch arrives, and only documents unseen in the
    * existing corpus AND not repeated earlier within the batch survive.
    * The corpus is never rewritten or windowed — it participates only as
    * the build side of one digest semi-join probe (at 100 TB of corpus
    * state that is the whole point: cost scales with the BATCH, plus one
    * corpus digest scan that a pipeline would keep materialized anyway).
    * Within-batch first-occurrence uses the same min-id window as
    * [[exactDedup]], over batch rows only.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("h"))
    val corpusHashes = corpus.select(md5(col(textCol)).as("h")).distinct()
    batch
      .withColumn("h", md5(col(textCol)))
      .withColumn("dup_in_batch", col(idCol) =!= min(col(idCol)).over(w))
      .join(corpusHashes.withColumn("__in_corpus", lit(true)), Seq("h"), "left")
      .withColumn("dup_of_corpus", coalesce(col("__in_corpus"), lit(false)))
      .withColumn("keep", !col("dup_in_batch") && !col("dup_of_corpus"))
      .drop("__in_corpus")
  }

  /** [[incrementalDedup]]'s 100 TB probe tier — the classic BLOOM JOIN
    * with the sides the way the corpus-refresh scenario actually has
    * them: the corpus digest set is enormous (too large to broadcast,
    * expensive even to shuffle), the batch is comparatively small. The
    * bloom is therefore built over the BATCH digests (partial-bloom
    * merge traffic = partitions × a batch-sized bitmap — independent of
    * corpus volume; relayed as an uncorrelated scalar subquery, never a
    * collect), and the CORPUS digest scan streams map-side through
    * `might_contain`: only the ~(dup-rate + fpp) fraction of corpus
    * digests ever shuffles into the exact confirm semi-join against the
    * batch digests, instead of the exact tier's full corpus-digest
    * shuffle. (The r11 shape built the bloom over the corpus and
    * filtered the batch — backwards for corpus ≫ batch: it paid the
    * full corpus-digest shuffle anyway and added a corpus-sized
    * partial-bloom merge on top.)
    *
    * Exactness: the confirm semi-join eliminates corpus-side bloom
    * false positives and the bloom has no false negatives, so the
    * confirmed digest set is EXACTLY corpus ∩ batch digests and the
    * output is BIT-IDENTICAL to [[incrementalDedup]] (the driver gate
    * reuses the same DuckDB oracle). The confirmed set keys on the
    * DIGEST alone and is deduplicated, so a batch repeating a doc_id —
    * even with different texts, one a corpus dup, one fresh — is
    * flagged per ROW, never smeared across id-twins or fanned out; the
    * join-back on `h` reuses the dup_in_batch window's hash(h)
    * partitioning, so the batch never shuffles twice. `expectedItems`
    * sizes the bloom to the BATCH digest count and tunes only the
    * corpus-side false-positive (excess confirm-shuffle) rate.
    * Within-batch first-occurrence is the same min-id window over batch
    * rows only.
    */
  def incrementalDedupBloom(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      expectedItems: Long = 4000000L): DataFrame = {
    val w = Window.partitionBy(col("h"))
    val bh = batch.withColumn("h", md5(col(textCol)))
    val b = bh.withColumn("dup_in_batch", col(idCol) =!= min(col(idCol)).over(w))
    // bloomSemiJoin(big = corpus digests, small = batch digests): the
    // bloom subquery reads bh (pre-window) so the batch window shuffle
    // is never replayed into the bloom build
    val confirmed = graft.ops.Relational.bloomSemiJoin(
        corpus.select(md5(col(textCol)).as("h")), bh.select(col("h")),
        "h", "h", expectedItems)
      .distinct().withColumn("__in_corpus", lit(true))
    b.join(confirmed, Seq("h"), "left")
      .withColumn("dup_of_corpus", coalesce(col("__in_corpus"), lit(false)))
      .withColumn("keep", !col("dup_in_batch") && !col("dup_of_corpus"))
      .drop("__in_corpus")
  }

  /** Word 3-gram shingles as a distinct array column `shingles`.
    * Documents shorter than 3 tokens contribute their whole text as the
    * single shingle.
    *
    * The token array is bound as a LAMBDA VARIABLE (`transform(array(
    * split(..)), w -> …)`) rather than an aliased column: Catalyst's
    * projection collapse inlines aliases into every reference, so the
    * previous two-projection form re-evaluated `split` inside each
    * `element_at` of the shingle lambda — one split per token per row.
    * Lambda variables cannot be inlined, so the split runs once per row
    * (measured at sf0.1: the shingle stage dropped ~4 s of fixed-looking
    * cost from every shingling query; the effect scales with tokens², so
    * at real document lengths it is the difference between linear and
    * quadratic scan cost).
    */
  def withShingles(docs: DataFrame, textCol: String = "text"): DataFrame =
    // r19: the codegen expression replaces the interpreted HOF chain
    // (split → per-trigram element_at×3 + concat_ws + two lambda fences)
    // with one O(bytes) pass emitting zero-copy trigram slices —
    // bit-equal by construction and pinned by FunctionsSpec ("WordShingles
    // ≡ builtin HOF formulation"); the DuckDB oracles replaying the HOF
    // spelling are unchanged.
    docs.withColumn("shingles",
      graft.functions.WordShingles.word_shingles(col(textCol)))

  /** MinHash signatures: `numHashes` permutations h_j(x) = (a_j·x + b_j)
    * mod p over murmur3 shingle hashes, computed by the per-row codegen'd
    * [[graft.functions.MinHashSig]] expression. The signature depends only
    * on the document's own shingles, so it belongs in the row scan: the
    * previous explode → groupBy(`numHashes` MIN aggs) → join-back pipeline
    * paid two shuffles (one row per doc×shingle into the aggregation, then
    * the signature join); this is a ZERO-shuffle map stage with identical
    * bits (DedupSpec gates the equivalence). Returns the input plus `sig`
    * (array&lt;bigint&gt;).
    */
  def minHashSignatures(shingled: DataFrame, numHashes: Int = 32): DataFrame = {
    require(numHashes > 0)
    shingled.withColumn("sig",
      graft.functions.MinHashSig.minhash_sig(col("shingles"), numHashes))
  }

  /** LSH banding: split the signature into `bands` bands and emit one row
    * per (doc, band) carrying ONLY (doc_id, band, xxhash64(band key)) —
    * 24 bytes per row. The shingle arrays deliberately do NOT travel
    * through the banded self-join (measured: shuffling ~5 KB of shingle
    * strings per doc×band dominated the pipeline); candidates are
    * re-joined to their shingles afterwards.
    */
  def lshBands(signed: DataFrame, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // `sig` is bound as a lambda var so the (expensive) signature
    // expression evaluates once per row, not once per band — projection
    // collapse would otherwise inline the MinHashSig computation into
    // every band's slice (see withShingles)
    signed.select(col("doc_id"),
      posexplode(expr(
        s"""flatten(transform(array(sig), s ->
           |  transform(sequence(0, ${bands - 1}),
           |            b -> xxhash64(concat_ws(',', slice(s, b * $r + 1, $r))))))""".stripMargin))
        .as(Seq("band", "band_key")))
  }

  /** Candidate pairs from shared LSH buckets, then exact-Jaccard
    * verification — but only for the (small) candidate set: the band join
    * moves 24-byte rows, and the shingle arrays are fetched just for the
    * pairs that shared a bucket. Only pairs with jaccard ≥ threshold
    * survive.
    */
  def minHashCandidatePairs(banded: DataFrame, shingled: DataFrame,
      threshold: Double = 0.7): DataFrame = {
    val a = banded.select(col("band"), col("band_key"), col("doc_id").as("a_id"))
    val b = banded.select(col("band"), col("band_key"), col("doc_id").as("b_id"))
    val candidates = a.join(b, Seq("band", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
    val sh = shingled.select(col("doc_id"), col("shingles"))
    candidates
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("b_sh")), "b_id")
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("uni", size(col("a_sh")) + size(col("b_sh")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Full MinHash dedup: per-document cluster assignment with transitive
    * closure — a chain A≈B≈C lands in ONE cluster even when A–C itself is
    * below threshold. Closure is [[graft.ops.Relational.connectedComponents]]
    * over the verified candidate-pair edges: alternating edge relaxation +
    * pointer jumping, O(log longestChain) bounded shuffles. (An earlier
    * version jumped over min-partner pointers ONLY, which strands a node
    * whose sole partner has a larger id — e.g. pairs (a,z),(m,z) with z
    * largest left m unclustered. Edge relaxation closes that hole;
    * DedupSpec gates the exact scenario.) Docs with no duplicate keep
    * themselves; always one row per document. A pair graph under
    * `spark.sql.autoBroadcastJoinThreshold` is closed by union-find on the
    * driver instead, with the same result; `maxClosureRounds` bounds the
    * distributed loop only, which larger pair graphs take.
    *
    * Cache contract (delegated to connectedComponents): every loop cache
    * is released before return; the result is a projection over a frame
    * [[graft.ops.Tuning.materialize]] computed eagerly, so downstream
    * actions never replay the LSH pipeline. The checkpoint storage is the
    * only retained state and is released by dropping the result reference
    * (the ContextCleaner frees the checkpoint RDD on GC) — `unpersist()`
    * on the returned projection is a no-op, since the storage belongs to
    * the internal checkpoint, not a CacheManager entry.
    */
  def minHashDedup(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.7, maxClosureRounds: Int = 10): DataFrame = {
    // the shingled frame feeds THREE consumers (the signature/band scan
    // plus both sides of the candidate verify join); a persist computes
    // the O(tokens)-per-row shingling once instead of three times, and is
    // released before return — connectedComponents eagerly checkpoints
    // its result, so by then nothing downstream can replay the scan
    val shingled = withShingles(docs)
      .select(col("doc_id"), col("shingles")).persist()
    try minHashDedupFromShingles(shingled, docs.select(col("doc_id")),
      numHashes, bands, threshold, maxClosureRounds)
    finally shingled.unpersist()
  }

  /** [[minHashDedup]] over a PRE-SHINGLED frame (`doc_id`, `shingles`) —
    * the caller owns the shingle computation (and its persist lifecycle),
    * so a pipeline that needs the shingles for other purposes too (e.g.
    * `llm_dedup_minhash`'s independent dual-path signature recheck) pays
    * the O(tokens)-per-row shingling ONCE for all consumers instead of
    * once per consumer. `nodes` is the full document-id universe (every
    * id gets a row, duplicate or not). Result is a projection over
    * connectedComponents' eager checkpoint — safe to consume after the
    * caller unpersists `shingled`. `maxClosureRounds` bounds the closure's
    * distributed loop only, as in [[minHashDedup]].
    */
  def minHashDedupFromShingles(shingled: DataFrame, nodes: DataFrame,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.7,
      maxClosureRounds: Int = 10): DataFrame = {
    val banded = lshBands(minHashSignatures(shingled, numHashes), numHashes, bands)
    val pairs = minHashCandidatePairs(banded, shingled, threshold)
    graft.ops.Relational.connectedComponents(
      pairs, srcCol = "a_id", dstCol = "b_id",
      nodes = Some(nodes),
      maxRounds = maxClosureRounds)
      .select(col("node").as("doc_id"), col("component").as("keep_id"))
      .withColumn("is_dup", col("doc_id") =!= col("keep_id"))
  }

  /** 64-bit SimHash fingerprint: each token hashed with xxhash64; bit i of
    * the fingerprint is the sign of Σ_tokens (±1 by the token's bit i).
    * Computed by the codegen'd [[graft.functions.SimHash64]] expression —
    * one stack-allocated vote array per document inside whole-stage
    * codegen, no shuffle, no UDF (and none of the per-token array
    * allocation the old higher-order fold paid).
    */
  def simHash(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("simhash",
      graft.functions.SimHash64.simhash64(split(col(textCol), " ")))

  /** SimHash near-dup candidates via Manku-style block-combination banding
    * (Manku, Jain & Das Sarma, "Detecting Near-Duplicates for Web
    * Crawling", WWW'07): split the 64-bit fingerprint into `maxHamming+3`
    * disjoint blocks and band on every 3-block combination. Pigeonhole: a
    * pair within hamming ≤ maxHamming has at most maxHamming corrupted
    * blocks, so at least 3 blocks are intact and at least one combination
    * key matches — recall is exact, like the old 4×16-bit chunk scheme.
    *
    * The difference is the band-key width: ~33 bits (three ~11-bit blocks)
    * instead of 16. The old scheme capped the key space at 65,536 buckets
    * per chunk table, so at ~10⁹ docs the expected bucket held ~15k rows
    * and the Σ bucket² self-join exploded; with 2³³ keys the expected
    * bucket stays O(1) at the same scale and candidate volume stays
    * ~n·C(b,3) — the cost is 20 (k=3) band rows per doc instead of 4.
    * Verification of true hamming distance is unchanged.
    */
  def simHashPairs(hashed: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 8, "maxHamming must be in [0, 8]")
    // hamming 0 = identical fingerprints: one band on the fingerprint itself
    val keys =
      if (maxHamming == 0) array(col("simhash"))
      else {
        val b = maxHamming + 3 // ≥ 4 blocks → every block ≤ 16 bits
        val base = 64 / b
        val extra = 64 % b // first `extra` blocks are one bit wider
        val widths = (0 until b).map(i => if (i < extra) base + 1 else base)
        val offsets = widths.scanLeft(0)(_ + _).dropRight(1)
        def blk(i: Int): Column =
          shiftrightunsigned(col("simhash"), offsets(i))
            .bitwiseAND(lit((1L << widths(i)) - 1))
        val combos = (0 until b).combinations(3).toSeq
        array(combos.map { c =>
          blk(c(0)) * lit(1L << 32) + blk(c(1)) * lit(1L << 16) + blk(c(2))
        }: _*)
      }
    val banded = hashed.select(col("doc_id"), col("simhash"),
      posexplode(keys).as(Seq("combo", "band_key")))
    val a = banded.select(col("combo"), col("band_key"),
      col("doc_id").as("a_id"), col("simhash").as("a_hash"))
    val bb = banded.select(col("combo"), col("band_key"),
      col("doc_id").as("b_id"), col("simhash").as("b_hash"))
    a.join(bb, Seq("combo", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_hash"), col("b_hash"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming", bit_count(col("a_hash").bitwiseXOR(col("b_hash"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Decontamination: flag corpus documents sharing ANY word-3-gram
    * shingle with a blocklist (the benchmark/test-set overlap removal
    * step every training-data pipeline runs before training). The
    * blocklist's distinct shingles are BROADCAST — benchmark suites are
    * tiny next to a 100 TB corpus — so the scan side never shuffles: a
    * broadcast semi-join per partition, then one distinct on the (small)
    * contaminated id set. Exact containment, no similarity threshold.
    */
  def decontaminate(docs: DataFrame, blocklist: DataFrame,
      textCol: String = "text"): DataFrame = {
    val ds = withShingles(docs, textCol)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
    val bs = withShingles(blocklist.select(col("doc_id"), col(textCol)), textCol)
      .select(explode(col("shingles")).as("s")).distinct()
    val contaminated = ds.join(broadcast(bs), Seq("s"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    // the flagged id set is bounded by docs overlapping the blocklist —
    // small by assumption (a contaminated corpus has bigger problems), so
    // broadcast it too: the corpus side is never shuffled by this operator
    docs.join(broadcast(contaminated), Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
  }

  /** Near-dup decontamination: exact n-gram Jaccard between a training
    * corpus and a benchmark set (bipartite inverted index — the
    * similarity-threshold big sibling of [[decontaminate]]'s exact
    * containment). Returns one row per (train doc, benchmark doc) pair
    * with jaccard ≥ `threshold`; anti-join the train corpus against the
    * flagged ids to remove them.
    *
    * Scale shape: both sides explode to (doc, shingle-hash-64) rows and
    * meet in ONE shuffle on the 8-byte hash; candidate volume is bounded
    * by shingle co-occurrence (never |train|×|bench|), and the benchmark
    * side is tiny by assumption. The df-cap relief valve of
    * [[ngramJaccardPairs]] applies unchanged if a stop-shingle corpus
    * ever makes Σ df_train·df_bench blow up.
    *
    * Granularity contract (same as [[decontaminate]]): similarity is
    * over TRIGRAM shingle sets, with [[withShingles]]' whole-text
    * fallback for texts shorter than one trigram — so a short benchmark
    * doc copied verbatim as a short train doc IS caught (identical
    * fallback shingles), but a sub-trigram benchmark string embedded
    * INSIDE a longer document is invisible to any shingle-set method by
    * construction; use [[spanDedup]]/winnowing or a substring scan for
    * that threat model. (No length filter here: an earlier `>= 3` token
    * filter silently dropped short docs from BOTH sides, hiding even
    * the short-vs-short verbatim copies.)
    */
  def decontaminateNearDupPairs(train: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.5, textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    def side(df: DataFrame) = withShingles(df, textCol)
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n"),
        explode(col("shingles")).as("s"))
      .select(col("doc_id"), col("n"), xxhash64(col("s")).as("sh"))
    val t = side(train)
    val b = side(benchmark)
    t.as("t").join(b.as("b"), col("t.sh") === col("b.sh"))
      .groupBy(col("t.doc_id").as("train_id"), col("b.doc_id").as("bench_id"))
      .agg(count(lit(1)).as("common"), max(col("t.n")).as("nt"), max(col("b.n")).as("nb"))
      .select(col("train_id"), col("bench_id"),
        (col("common").cast("double") / (col("nt") + col("nb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Paragraph-level exact dedup (the C4/RefinedWeb boilerplate-removal
    * step): split every document on `delim`, keep only the globally FIRST
    * occurrence of each distinct paragraph (smallest (doc_id, position)),
    * and reassemble documents from their surviving paragraphs in original
    * order. Documents whose every paragraph appeared earlier elsewhere
    * vanish entirely (their row count is the `n_kept > 0` survivors).
    *
    * Scale shape: paragraphs travel through the one global shuffle as
    * 8-byte xxhash64 keys + (doc_id, idx) — never the paragraph text —
    * via a partial-aggregating groupBy(min(struct)) + hash join back;
    * reassembly is a second groupBy on doc_id (collect_list of the
    * surviving (idx, para) structs, sorted in-memory per doc). Collision
    * risk is the usual 64-bit hash caveat (~1e-19 per paragraph pair).
    */
  def paragraphDedup(docs: DataFrame, delim: String,
      textCol: String = "text"): DataFrame = {
    require(delim.nonEmpty, "delim must be non-empty")
    val quoted = java.util.regex.Pattern.quote(delim)
    val paras = docs
      .select(col("doc_id"),
        size(split(col(textCol), quoted)).cast("long").as("n_total"),
        posexplode(split(col(textCol), quoted)).as(Seq("idx", "para")))
      .withColumn("h", xxhash64(col("para")))
    val firstOcc = paras
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"),
        count(lit(1)).as("df"))
    val kept = paras.join(firstOcc, "h")
      .filter(struct(col("doc_id"), col("idx")) === col("first"))
    kept
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(delim, expr("transform(array_sort(collect_list(struct(idx, para))), x -> x.para)"))
          .as("text_dedup"),
        count(lit(1)).as("n_kept"),
        first(col("n_total")).as("n_total"),
        sum(col("df")).as("df_sum"))
  }

  /** Sliding-window span dedup (the window-granular form of
    * suffix-array substring dedup, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): every `window`-token
    * span of every document is keyed; a span whose globally-first
    * occurrence (min doc_id) lies in an EARLIER document is a duplicated
    * span. Per document: span count, duplicated-span count, and an exact
    * integer duplication fraction (ppm) — the signal pipelines threshold
    * on to drop or trim span-duplicated documents. Documents shorter than
    * `window` contribute their whole text as one span.
    *
    * Scale shape: one generator explode (positions × docs — linear in
    * corpus tokens), one groupBy on the span key for first-occurrence,
    * one join back on the span key, one per-doc aggregate. All shuffles
    * are on span keys — cost is corpus-token-linear, never pairwise. At
    * 100 TB the span key should be `xxhash64(span)` (8-byte shuffle keys;
    * pass `hashSpans = true`); the raw-string default keys make the
    * result DuckDB-oracle-able.
    */
  def spanDedup(docs: DataFrame, window: Int = 8, hashSpans: Boolean = false,
      textCol: String = "text"): DataFrame = {
    require(window >= 2, "window must be >= 2")
    // r19: codegen byte-slice windows (WordGrams emits token spans
    // `i..min(i+window−1, last)`, floored at one whole-string gram for
    // short docs — exactly the CASE/array_join(slice(...)) HOF this
    // replaced; FunctionsSpec pins the equivalence, oracles unchanged)
    val wins = docs
      .select(col("doc_id"), explode(
        graft.functions.WordGrams.word_grams(col(textCol), window)).as("span"))
      .withColumn("k", if (hashSpans) xxhash64(col("span")) else col("span"))
    val firsts = wins.groupBy(col("k")).agg(min(col("doc_id")).as("first_doc"))
    wins.join(firsts, "k")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_dup_windows"))
      .withColumn("is_span_dup", col("n_dup_windows") > 0)
      .withColumn("dup_frac_ppm",
        expr("n_dup_windows * 1000000L div n_windows"))
  }

  /** Exact n-gram Jaccard via inverted index: explode distinct shingles,
    * self-join on the shingle (shuffle on shingle, cost bounded by
    * co-occurrence, never n²), count common shingles per pair, and compute
    * jaccard = |∩| / (|A| + |B| − |∩|) from exact integers — bit-exact
    * against any engine.
    */
  def ngramJaccardPairs(docs: DataFrame, topK: Int = 100, maxDf: Int = 0): DataFrame = {
    // Shingles are joined by 64-bit hash, not string: 8-byte shuffle keys
    // instead of ~20-char strings (measured 2× on the self-join, the
    // pipeline's dominant shuffle). Collisions (~1e-9 at 1e6 shingles)
    // would only perturb a count if two colliding shingles co-occurred in
    // the same pair.
    // `shingles` is array_distinct per doc, so (doc_id, sh) is already
    // distinct (up to 64-bit hash collisions, ~1e-19 per doc) — no dedup
    // shuffle needed, and the per-doc shingle count rides along as
    // size(shingles) instead of a groupBy + join-back. The single
    // repartition on the join key is load-bearing: it is the partitioning
    // the self-join needs anyway, and the exchange is REUSED by both join
    // sides, so the shingling pipeline (split/transform/explode/hash)
    // executes once — without it each side recomputes it from the scan
    // (measured 2.2× slower at sf0.1).
    val shAll = withShingles(docs.filter(size(split(col("text"), " ")) >= 3))
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n"),
        explode(col("shingles")).as("s"))
      .select(col("doc_id"), col("n"), xxhash64(col("s")).as("sh"))
      .repartition(col("sh"))
    // Σ df² relief valve (SCALE.md): a stop-shingle appearing in df docs
    // contributes df² candidate rows to the self-join but carries almost no
    // similarity signal. maxDf > 0 drops shingles with document frequency
    // above the cap BEFORE the join — the result is exact Jaccard over the
    // df-capped shingle space, so the per-doc count is recomputed
    // post-filter (a groupBy + join this branch genuinely needs).
    // maxDf = 0 (default) keeps the exact full-space plan the oracle checks.
    val shn = if (maxDf > 0) {
      val dfc = shAll.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      val kept = shAll.drop("n")
        .join(dfc.filter(col("df") <= maxDf).select(col("sh")), "sh")
      val cnt = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      kept.join(cnt, "doc_id")
    } else shAll
    val pairs = shn.as("a").join(shn.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("common"), max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
    pairs
      .select(col("a_id"), col("b_id"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(topK)
  }

  /** Prefix-filtered set-similarity join (AllPairs/PPJoin family —
    * Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07): ALL document pairs
    * with shingle Jaccard ≥ t, without the full inverted-index self-join.
    * Tokens get a global total order (ascending document frequency,
    * rarest first, ties by shingle text — engine-independent); a pair
    * with |A∩B| ≥ α must share a token within each side's
    * (n − α + 1)-prefix under that order (the first common token has ≥
    * α−1 common successors, pinning its position), and J ≥ t implies
    * |∩| ≥ ⌈t·n⌉ for BOTH sides, so joining only the per-side prefixes
    * p = n − ⌈t·n⌉ + 1 loses no qualifying pair. Candidates are then
    * verified with an exact array-intersection count; the threshold test
    * is pure integer arithmetic (common·10⁶ ≥ t_ppm·(|A|+|B|−common)).
    *
    * Rows: `(a_id, b_id, common, na, nb, jaccard)` with `a_id < b_id`,
    * `common` the count of distinct shared shingle hashes, `na` and `nb`
    * each side's hash count and `jaccard = common / (na + nb − common)`
    * in double division. Documents with a null id count toward document
    * frequencies but never pair.
    *
    * Two paths, chosen as [[graft.ops.Relational.connectedComponents]]
    * chooses, by one bounded collect ([[graft.ops.Tuning.broadcastRows]])
    * of the token rows `(doc_id, n, s)`, one per shingle hash of each
    * document:
    *   - Driver path: when those rows are broadcast-sized, the document
    *     frequencies, each document's rarest-first prefix, the inverted
    *     index over prefix tokens and the exact verify run on the driver
    *     (`driverPairs`), ids compared by Catalyst's interpreted ordering,
    *     and the pairs come back as a local relation. No job runs after
    *     the collect. Two inputs take the Spark path instead: duplicate
    *     `doc_id`s, and a candidate bound Σ C(k, 2) over prefix tokens (k
    *     documents hold the token in their prefix) whose pair rows Spark
    *     would not broadcast, so a stop-shingle corpus never builds a
    *     quadratic candidate set on one driver thread.
    *   - Spark path: over the threshold, at `-1`, or for those two inputs,
    *     the plan below runs. It pays one evaluation of the shingles up to
    *     the bounded collect besides its own.
    * Both return the same rows.
    *
    * Scale: at t = 0.5 the prefix is ~half of each document's shingles,
    * and because prefixes hold each document's RAREST tokens, the join's
    * Σdf² collapses — stop-shingles (the df² blowup in
    * [[ngramJaccardPairs]], see SCALE.md) land at the END of the order
    * and never enter the join. Unlike the `maxDf` relief valve this
    * prunes with NO approximation: the output is exactly the brute-force
    * pair set, which is what the driver oracle checks. Shuffles of the
    * Spark path: df count, one doc-key window for prefix positions, the
    * prefix-token join, and a broadcastable candidate verify.
    */
  def prefixFilteredJaccardPairs(docs: DataFrame,
      thresholdPpm: Long = 500000L, textCol: String = "text"): DataFrame = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000L,
      "thresholdPpm must be in (0, 1e6]")
    // shingles carry as 8-byte xxhash64 keys everywhere (df count, prefix
    // join, verify intersect) — the same key compression as
    // [[ngramJaccardPairs]], same negligible collision odds
    val sets = withShingles(
        docs.filter(size(split(col(textCol), " ")) >= 3), textCol)
      .select(col("doc_id"),
        expr("transform(shingles, x -> xxhash64(x))").as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n"), col("hs"))
    Tuning.broadcastRows(tokens(sets))
      .flatMap(driverPairs(sets, _, thresholdPpm))
      .getOrElse(sparkPairs(materialize(sets), thresholdPpm))
  }

  /** One `(doc_id, n, s)` row per shingle hash `s` of each document. */
  private def tokens(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), col("n"), explode(col("hs")).as("s"))

  /** [[prefixFilteredJaccardPairs]] on the driver over its token rows, or
    * None when an id's token rows outnumber its `n` (a duplicate id) or
    * when the candidate bound's pair rows are not broadcast-sized.
    * Documents are keyed by their [[graft.ops.Relational.IdIndex]]
    * position, so a position order is the id order.
    */
  private def driverPairs(sets: DataFrame, rows: Array[InternalRow],
      thresholdPpm: Long): Option[DataFrame] = {
    val t = sets.schema.head.dataType
    val index = new graft.ops.Relational.IdIndex(rows.iterator.map(_.get(0, t)), t)
    val pos = rows.map(r => if (r.isNullAt(0)) -1 else index(r.get(0, t)))
    val byDoc = rows.indices.filter(pos(_) >= 0).groupBy(pos(_))
    val n = index.ids.indices.map(i => rows(byDoc(i).head).getLong(1))
    // document frequencies count every token row, a null id's included
    val df = mutable.LongMap.empty[Long]
    rows.foreach(r => df(r.getLong(2)) = df.getOrElse(r.getLong(2), 0L) + 1L)
    val toks = index.ids.indices.map(i => byDoc(i).map(rows(_).getLong(2)))
    val unique = toks.indices.forall(i => toks(i).length == n(i))
    // the inverted index over each document's rarest-first prefix
    val holders = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    toks.indices.foreach { i =>
      val p = n(i) - (n(i) * thresholdPpm + 999999L) / 1000000L + 1L
      toks(i).sortBy(s => (df(s), s)).take(p.toInt).distinct
        .foreach(s => holders.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += i)
    }
    val bound = holders.valuesIterator.map(h => h.length.toLong * (h.length - 1) / 2).sum
    // the Spark path's schema: its ids, sizes and division keep the
    // nullability of these columns of `sets`
    val schema = sets.select(col("doc_id").as("a_id"), col("doc_id").as("b_id"),
      col("n").as("common"), col("n").as("na"), col("n").as("nb"),
      (col("n").cast("double") / col("n")).as("jaccard")).schema
    Option.when(unique && Tuning.broadcastRowCap(sets.sparkSession, schema).exists(bound <= _)) {
      val cand = mutable.HashSet.empty[(Int, Int)]
      holders.valuesIterator.foreach(h => for (a <- h; b <- h if a < b) cand += ((a, b)))
      val sorted = toks.map(_.distinct.sorted.toArray)
      val out = cand.toSeq.sorted.flatMap { case (a, b) =>
        val common = sorted(a).count(java.util.Arrays.binarySearch(sorted(b), _) >= 0).toLong
        val union = n(a) + n(b) - common
        Option.when(common * 1000000L >= thresholdPpm * union)(InternalRow(
          index.ids(a), index.ids(b), common, n(a), n(b), common.toDouble / union.toDouble))
      }
      org.apache.spark.sql.GraftBridge.localFrame(sets.sparkSession, schema, out)
    }
  }

  /** [[prefixFilteredJaccardPairs]] as a Spark plan over the materialized
    * shingle-hash sets `sets`, which feed three consumers (prefix tokens
    * and both verify sides).
    */
  private def sparkPairs(sets: DataFrame, thresholdPpm: Long): DataFrame = {
    val tok = tokens(sets)
    val dfreq = tok.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val prefix = tok.join(dfreq, "s")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .filter(col("pos") <=
        col("n") - expr(s"(n * ${thresholdPpm}L + 999999L) div 1000000L") + 1L)
      .select(col("doc_id"), col("s"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("n").as("na"),
        col("hs").as("sa")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("n").as("nb"),
        col("hs").as("sb")), "b_id")
      .withColumn("common",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .filter(col("common") * 1000000L >=
        lit(thresholdPpm) * (col("na") + col("nb") - col("common")))
      .select(col("a_id"), col("b_id"), col("common"), col("na"), col("nb"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common")))
          .as("jaccard"))
  }

  /** Near-duplicate CLUSTER analysis — the observability step a dedup
    * pipeline runs before committing a purge: exact threshold pairs
    * ([[prefixFilteredJaccardPairs]], lossless pruning) become an
    * undirected graph, [[graft.ops.Relational.connectedComponents]]
    * labels each duplicate cluster, and the result is the cluster-size
    * histogram with document/drop accounting (keep-one-per-cluster ⇒
    * `n_dropped = n_docs − n_clusters` per size). Singleton documents
    * (no qualifying pair) carry no dedup decision and are excluded by
    * construction.
    *
    * Scale: pair volume is the prefix-filtered join's (Σdf² over rare
    * prefix tokens only); components label the PAIR graph (union-find on
    * the driver under the broadcast threshold, pointer-jumping O(log
    * chain) rounds over it) — corpus-sized input never enters the
    * iteration. The histogram is |clusters| rows aggregated twice.
    *
    * Both steps choose their path by the session's one broadcast rule
    * ([[graft.ops.Tuning.broadcastRows]]): a corpus whose token rows are
    * broadcast-sized, and whose prefix candidate bound is too, gets its
    * pairs as a local relation from the driver, and a pair graph under
    * the threshold is labeled by union-find; either step over it (or at
    * `-1`) runs as Spark jobs. Every combination returns the same rows.
    */
  def dedupClusterStats(docs: DataFrame,
      thresholdPpm: Long = 500000L): DataFrame = {
    // the pair list is components' edge input: its bounded collect reads
    // it once, and only a pair graph over the broadcast threshold reads it
    // again, into the loop's own edge cache
    val comp = graft.ops.Relational.connectedComponents(
      prefixFilteredJaccardPairs(docs, thresholdPpm)
        .select(col("a_id").as("src"), col("b_id").as("dst")))
    comp.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - lit(1L)) * col("n_clusters")).as("n_dropped"))
      .orderBy(col("cluster_size"))
  }

  /** Per-benchmark contamination report — the summary a training run
    * reviews before trusting an eval: for each benchmark document, how
    * many train documents near-duplicate it
    * ([[decontaminateNearDupPairs]] threshold pairs) and the worst
    * (maximum) Jaccard among them. Benchmark documents with no
    * qualifying pair are absent — an empty report means a clean eval.
    * Same scale shape as the pair step (one shingle-hash shuffle +
    * a |pairs|-row aggregate).
    */
  def contaminationReport(train: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.5, textCol: String = "text"): DataFrame =
    decontaminateNearDupPairs(train, benchmark, threshold, textCol)
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_contaminating"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("bench_id"))

  /** URL canonicalization — the CommonCrawl-style dedup key. Normalizes,
    * in order: case, `http://` → `https://`, leading `www.`, fragment,
    * TRAILING `utm_*` tracking parameters, a slash directly before the
    * query string, and a trailing slash. Pure per-row regex/string
    * expressions (codegen, zero shuffle); every pattern is anchored or
    * single-occurrence so engines that replace first-match (DuckDB) and
    * all-matches (Spark) agree. Real (non-tracking) query parameters
    * survive — two pages of a paginated listing are NOT duplicates.
    */
  def canonicalUrl(url: Column): Column = {
    val steps: Seq[(String, String)] = Seq(
      "^http://" -> "https://",
      "^https://www\\." -> "https://",
      "#.*$" -> "",
      "[?&]utm_[^&#]*(&utm_[^&#]*)*$" -> "",
      "/\\?" -> "?",
      "/$" -> "")
    steps.foldLeft(lower(url)) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
  }

  /** URL dedup: group by [[canonicalUrl]], keep the lowest id as the
    * canonical representative. One hash shuffle on the canonical key —
    * the same one-pass shape as [[exactDedup]], applied to the address
    * instead of the content.
    */
  /** Char-level substring-overlap detection via WINNOWING (Schleimer,
    * Wilkerson & Aiken, SIGMOD 2003) — the distributable answer to
    * suffix-array substring dedup (Lee et al. 2022 use a global suffix
    * array; winnowing gets the same "shared span of length ≥ t" signal
    * with per-document work + one inverted-index join). Per document:
    * Horner-polynomial hashes of every `k`-char gram (exact BIGINT —
    * max code 65535 · 31⁷ · 8 < 2⁶³), then the minimum hash of each
    * window of `w` consecutive gram hashes. GUARANTEE: any shared
    * substring of length ≥ w+k−1 contains a full hash window on both
    * sides, whose minimum is selected identically — the pair WILL share
    * a fingerprint (DedupSpec pins this), PROVIDED that fingerprint
    * stays under the `maxDf` cap (a span shared corpus-wide is
    * boilerplate by definition). Pairs ranked by shared fingerprint
    * count.
    *
    * Scale: fingerprint density is ~2/(w+1) per char (the winnowing
    * paper's bound), so the exploded index is a fraction of corpus
    * chars; the self-join shuffles on 8-byte fingerprints with
    * Σ bucket² cost like every inverted-index dedup here. The `maxDf`
    * cap bounds that to df·maxDf per fingerprint — without it, ONE
    * common English 8-gram surviving winnowing in n docs contributes
    * n²/2 join rows, which is exactly what made the uncapped version
    * dominate the whole sf0.1 bench (62 of 131 seconds). Documents
    * shorter than w+k−1 chars produce no fingerprints and drop out
    * before the join.
    */
  def winnowedOverlapPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
      topK: Int = 50, textCol: String = "text", maxDf: Int = 64): DataFrame = {
    require(k >= 2 && w >= 2, "need k >= 2 and w >= 2")
    require(maxDf >= 2, "maxDf < 2 would drop every shareable fingerprint")
    // one O(len) codegen pass per document (rolling Horner + deque minima)
    // — bit-equal to the HOF transform/aggregate/array_min formulation the
    // DuckDB oracle replays (FunctionsSpec pins the equivalence)
    val fps = docs
      .filter(length(col(textCol)) >= k + w - 1)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints.winnow_fps(col(textCol), k, w)).as("fp"))
    // df cap — the Σdf² relief valve, same role as [[ngramJaccardPairs]]'s:
    // a fingerprint present in more than maxDf docs is boilerplate (common
    // English 8-grams, headers), not overlap signal, and exactly those
    // fingerprints make the pair join quadratic (one fp in n docs → n²/2
    // pairs). The window count shares its fp-shuffle with the pair join.
    val pruned = fps
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("__df") <= maxDf)
      .drop("__df")
    val a = pruned.select(col("doc_id").as("a_id"), col("fp"))
    val b = pruned.select(col("doc_id").as("b_id"), col("fp"))
    a.join(b, Seq("fp")).filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("a_id"), col("b_id"))
      .limit(topK)
  }

  def urlDedup(df: DataFrame, urlCol: String, idCol: String = "doc_id"): DataFrame =
    df.withColumn("canonical_url", canonicalUrl(col(urlCol)))
      .groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("n_urls"))

  /** Dedup threshold sensitivity sweep — the tuning report a pipeline
    * runs BEFORE picking its near-dup threshold: for each candidate
    * threshold, how many pairs qualify, how many documents are touched,
    * and how many a pairwise keep-min-id purge would remove. One exact
    * pair list at the LOOSEST threshold ([[prefixFilteredJaccardPairs]],
    * lossless pruning) is computed once; every tighter threshold is a
    * pure integer predicate over it (`common·1e6 ≥ τ·union`), so the
    * sweep costs |pairs|·|thresholds| counted rows, never another corpus
    * pass. `n_removed_greedy` counts distinct larger-ids in qualifying
    * pairs (transitivity-free lower bound on the purge;
    * [[dedupClusterStats]] is the component-exact sibling).
    *
    * The pair list takes [[prefixFilteredJaccardPairs]]' path: a
    * broadcast-sized corpus (token rows and candidate bound both under
    * the threshold) gets it as a local relation from the driver, which
    * the sweep reads as it is; otherwise it is computed as Spark jobs and
    * checkpointed once.
    */
  def thresholdSweep(docs: DataFrame, thresholdsPpm: Seq[Long],
      textCol: String = "text"): DataFrame = {
    require(thresholdsPpm.nonEmpty, "thresholdsPpm must be non-empty")
    // a repeated threshold would duplicate both the explode rows and the
    // allTs join keys — the fan-out double-counts every metric for that
    // threshold — so the sweep is defined over the DISTINCT thresholds
    val thresholds = thresholdsPpm.distinct.sorted
    // the pair list feeds THREE consumers (pairAgg + both union legs of
    // docAgg); materializing it prices the prefix-filtered join
    // pipeline ONCE — without it each consumer replays the Σdf² join and
    // the 'computed once' contract in the scaladoc is a lie. The driver
    // path's local relation comes back from it as it is.
    val base = materialize(prefixFilteredJaccardPairs(docs, thresholds.min, textCol)
      .select(col("a_id"), col("b_id"), col("common"), col("na"), col("nb")))
    val ts = explode(array(thresholds.map(lit): _*)).as("threshold_ppm")
    val q = base.select(ts, col("a_id"), col("b_id"), col("common"),
        col("na"), col("nb"))
      .filter(col("common") * 1000000L >=
        col("threshold_ppm") * (col("na") + col("nb") - col("common")))
    val pairAgg = q.groupBy(col("threshold_ppm")).agg(
      count(lit(1)).as("n_pairs"),
      countDistinct(col("b_id")).as("n_removed_greedy"))
    val docAgg = q.select(col("threshold_ppm"), col("a_id").as("d"))
      .union(q.select(col("threshold_ppm"), col("b_id").as("d")))
      .groupBy(col("threshold_ppm"))
      .agg(countDistinct(col("d")).as("n_docs_touched"))
    // every requested threshold gets a row — a threshold with NO
    // qualifying pairs reports zeros instead of silently vanishing
    // (callers index the sweep by threshold)
    val allTs = docs.sparkSession.createDataFrame(
      docs.sparkSession.sparkContext
        .parallelize(thresholds.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("threshold_ppm",
          org.apache.spark.sql.types.LongType, nullable = false))))
    allTs.join(pairAgg, Seq("threshold_ppm"), "left")
      .join(docAgg, Seq("threshold_ppm"), "left")
      .select(col("threshold_ppm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_touched"), lit(0L)).as("n_docs_touched"),
        coalesce(col("n_removed_greedy"), lit(0L)).as("n_removed_greedy"))
      .orderBy(col("threshold_ppm"))
  }
}
