package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.OpQueries.OpQ
import graft.ops.Tuning.materialize

/** Driver queries for the LLM-pipeline operators (dedup, similarity,
  * text analysis, multimodal) over the `documents` / `embeddings` tables.
  * SQL-expressible ops carry a DuckDB oracle (dialect-specific text where
  * the engines' function names differ); hash-based ops (murmur3/xxhash64
  * have no DuckDB equivalent) are rows-only here and covered by ScalaTest
  * specs instead.
  */
object LlmQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "documents")
  private def emb(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "embeddings")

  /** Synthetic image blobs staged ONCE per (sf, format) as a parquet blob
    * store, then read back — the realistic pipeline shape (blobs live in
    * object storage, not a per-query encode UDF), and repeat runs time the
    * DECODE operator instead of the fixture encoder. Content is a pure
    * function of doc_id, so a pre-existing stage dir is always valid.
    */
  private def stagedBlobs(s: SparkSession, d: String, fmt: String): DataFrame = {
    val sf = new java.io.File(d).getName
    val path = s"/tmp/graft_stage/blobs_${fmt}_$sf"
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      val blobs = fmt match {
        case "png" => Multimodal.syntheticPngBlobs(docs(s, d))
        case "wav" => Multimodal.syntheticWavBlobs(docs(s, d))
        case _ => Multimodal.syntheticJpegBlobs(docs(s, d))
      }
      graft.Sources.writeParquet(blobs, path)
    }
    s.read.parquet(path)
  }

  /** Exact dedup — md5 digest grouping (oracle: DuckDB md5 is identical). */
  val dedupExact = OpQ("llm_dedup_exact",
    (s, d) => Dedup.exactDedup(docs(s, d))
      .select(col("doc_id"), col("h"), col("keep_id"), col("n_copies"), col("is_dup"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, md5(text) AS h,
           |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
           |  COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
           |  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** MinHash LSH dedup — per-document cluster assignment, driver-gated
    * by per-row self-checks (the raw signatures hash shingles with
    * murmur3 + affine permutations DuckDB cannot replay, and the cluster
    * labels depend on which pairs the probabilistic bands surface, so
    * the label VALUES stay DedupSpec-gated; what the driver hashes is
    * one row per document with four booleans the oracle expects TRUE):
    *
    *  - `sig_ok` — the codegen [[graft.functions.MinHashSig]] signature
    *    is bit-identical to an independent builtin-only HOF replay
    *    (`hash()` is the same seed-42 murmur3, the affine permutation is
    *    plain SQL arithmetic mod the same prime);
    *  - `root_le_ok` — every cluster representative is the minimum id
    *    (keep_id ≤ doc_id);
    *  - `root_closed_ok` — representatives are fixed points
    *    (keep(keep_id) = keep_id, checked by self-join);
    *  - `dup_flag_ok` — is_dup ⇔ doc_id ≠ keep_id.
    *
    * Cluster-content arithmetic is separately hash-gated end-to-end by
    * `llm_dedup_cluster_stats` / `llm_dedup_ngram_jaccard`.
    *
    * The HOF replay binds the murmur3 shingle hashes ONCE per row via a
    * lambda variable (`flatten(transform(array(hashes), hs -> …))`) before
    * the 32-permutation fold — the naive nesting recomputes `hash(t)`
    * 32× per shingle, and projection collapse would re-inline a plain
    * `withColumn` hoist right back (same trap as [[Dedup.lshBands]]).
    * Identical bits: the permutation arithmetic is unchanged, only the
    * common subexpression is shared.
    */
  val dedupMinHash = OpQ("llm_dedup_minhash",
    (s, d) => {
      // the shingled frame feeds the dedup (signatures + both verify
      // sides) AND the independent dual-path recheck below — materializing
      // it computes the O(tokens)-per-row shingling ONCE
      // for all five consumers (persist+unpersist can't span the lazy
      // result this gate returns). Gate-scale choice: at corpus scale
      // the library entry point [[Dedup.minHashDedup]] keeps the
      // persist-scoped variant instead of materializing shingles.
      //
      // r20 (guide §2.5 input skew): the sf0.1 corpus is ONE parquet row
      // group, so the scan — and everything chained map-side onto it,
      // including the 32-permutation interpreted HOF replay below
      // (measured 1.4 s serial) — ran in a single task. When the scan
      // has fewer splits than the session's parallelism, spread the
      // checkpointed shingles round-robin once; at corpus scale the
      // scan already has more splits than cores and this is a no-op.
      val dp = s.sparkContext.defaultParallelism
      val base = Dedup.withShingles(docs(s, d))
        .select(col("doc_id"), col("shingles"))
      val shingled = materialize(if (docs(s, d).rdd.getNumPartitions < dp)
        base.repartition(dp) else base)
      val res = Dedup.minHashDedupFromShingles(shingled,
        docs(s, d).select(col("doc_id")))
      val roots = res.select(col("doc_id").as("keep_id"),
        col("keep_id").as("root_keep"))
      val structural = res.join(roots, Seq("keep_id"))
        .select(col("doc_id"),
          (col("keep_id") <= col("doc_id")).as("root_le_ok"),
          (col("root_keep") === col("keep_id")).as("root_closed_ok"),
          (col("is_dup") === (col("doc_id") =!= col("keep_id"))).as("dup_flag_ok"))
      val sigCheck = Dedup.minHashSignatures(shingled, 32)
        .withColumn("sig_hof", expr(
          """flatten(transform(
            |  array(transform(shingles, t -> abs(cast(hash(t) as bigint)))),
            |  hs -> transform(sequence(0, 31), j -> array_min(transform(hs, h ->
            |    ((2 * j + 1) * h + j * 2654435761L) % 4294967311L)))))""".stripMargin
            .replace("\n", " ")))
        .select(col("doc_id").as("sig_doc_id"),
          (col("sig") === col("sig_hof")).as("sig_ok"))
      structural.join(sigCheck, col("doc_id") === col("sig_doc_id"))
        .select(col("doc_id"), col("sig_ok"), col("root_le_ok"),
          col("root_closed_ok"), col("dup_flag_ok"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, TRUE AS sig_ok, TRUE AS root_le_ok,
           |  TRUE AS root_closed_ok, TRUE AS dup_flag_ok
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Cross-source duplication report ([[Dedup.crossSourceDupStats]]):
    * which sources carry the same contents, as shared-content and
    * cross-pair counts per source pair — key-hashed collapse first, join
    * on the collapsed table, multiplicity-product pair math. The gate
    * keys on the md5 of the first 8 words (the boilerplate/syndication
    * canonicalization — this corpus has no byte-exact cross-source
    * copies, but 22 leading-content collisions); exact DuckDB oracle
    * replays the same digest.
    */
  val dedupCrossSource = OpQ("llm_dedup_cross_source",
    (s, d) => Dedup.crossSourceDupStats(docs(s, d),
        md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))), "source")
      .orderBy(col("source_a"), col("source_b")),
    Some("""WITH cnt AS (
           |  SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h,
           |    source AS src, CAST(COUNT(*) AS BIGINT) AS n
           |  FROM documents GROUP BY 1, 2)
           |SELECT a.src AS source_a, b.src AS source_b,
           |  CAST(COUNT(*) AS BIGINT) AS shared_texts,
           |  CAST(SUM(a.n * b.n) AS BIGINT) AS cross_pairs
           |FROM cnt a JOIN cnt b ON a.h = b.h AND a.src < b.src
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** SimHash fingerprints gated by recompute-and-compare: XXH64 is not
    * DuckDB-expressible, so instead of raw fingerprints (unverifiable
    * there) each row carries `hof_ok` = the codegen
    * [[graft.functions.SimHash64]] fingerprint agreeing bit-exactly with
    * the independent builtin-only HOF fold
    * ([[graft.functions.SimHash64.referenceFoldSql]]) — per-row
    * verifiable by the driver (oracle expects TRUE for every doc).
    * Banding/recall semantics stay gated in DedupSpec.
    */
  val dedupSimHash = OpQ("llm_dedup_simhash",
    (s, d) => Dedup.simHash(docs(s, d))
      .withColumn("fp_hof",
        expr(graft.functions.SimHash64.referenceFoldSql("split(text, ' ')")))
      .select(col("doc_id"), (col("simhash") === col("fp_hof")).as("hof_ok"))
      .orderBy(col("doc_id")),
    Some("SELECT doc_id, TRUE AS hof_ok FROM documents ORDER BY doc_id"))

  /** Exact word-trigram Jaccard top pairs via inverted-index join —
    * bit-exact oracle (integer intersection counts).
    */
  val dedupNgramJaccard = OpQ("llm_dedup_ngram_jaccard",
    (s, d) => Dedup.ngramJaccardPairs(docs(s, d), topK = 100),
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |sh AS MATERIALIZED (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           |       FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
           |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
           |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |          GROUP BY a.doc_id, b.doc_id)
           |SELECT a_id, b_id, CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard
           |FROM pairs JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id
           |ORDER BY jaccard DESC, a_id, b_id LIMIT 100""".stripMargin))

  /** Prefix-filtered similarity join ([[Dedup.prefixFilteredJaccardPairs]]):
    * every pair with trigram Jaccard ≥ 0.5, found by joining only each
    * document's rarest-token prefix. The oracle is the BRUTE-FORCE
    * inverted-index pair set at the same threshold — a hash mismatch
    * means prefix filtering dropped a qualifying pair, so the gate IS
    * the completeness guarantee.
    */
  val dedupJaccardPrefix = OpQ("llm_dedup_jaccard_prefix",
    // doc_id < 1000 keeps the per-round bench lean (this synthetic corpus
    // has a uniform 30-word vocabulary — near-worst-case for prefix
    // filtering); the stop-shingle corpus where the filter pays off is
    // StressCheck's ngram_prefix_filter entry
    (s, d) => Dedup.prefixFilteredJaccardPairs(
        docs(s, d).filter(col("doc_id") < 1000), thresholdPpm = 500000L)
      .orderBy(col("a_id"), col("b_id")),
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w
           |               FROM documents WHERE doc_id < 1000),
           |sh AS MATERIALIZED (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           |       FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
           |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
           |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |            CAST(COUNT(*) AS BIGINT) AS common
           |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |          GROUP BY a.doc_id, b.doc_id)
           |SELECT a_id, b_id, common, ca.n AS na, cb.n AS nb,
           |  CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard
           |FROM pairs JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id
           |WHERE common * 1000000 >= 500000 * (ca.n + cb.n - common)
           |ORDER BY a_id, b_id""".stripMargin))

  /** Near-dup cluster histogram ([[Dedup.dedupClusterStats]]): exact
    * threshold pairs → connected components → cluster-size accounting.
    * Oracle: the brute-force pair set at the same threshold, a recursive
    * min-label walk (the `op_graph_components` gate pattern), and the
    * same double aggregation — all in DuckDB.
    */
  val dedupClusterStatsQ = OpQ("llm_dedup_cluster_stats",
    (s, d) => Dedup.dedupClusterStats(
      docs(s, d).filter(col("doc_id") < 1000), thresholdPpm = 500000L),
    Some("""WITH RECURSIVE toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w
           |               FROM documents WHERE doc_id < 1000),
           |sh AS MATERIALIZED (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           |       FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
           |cnt AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
           |p AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |        CAST(COUNT(*) AS BIGINT) AS common
           |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2),
           |tp AS MATERIALIZED (SELECT a_id, b_id FROM p
           |       JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id
           |       WHERE common * 1000000 >= 500000 * (ca.n + cb.n - common)),
           |nodes AS (SELECT a_id AS node FROM tp UNION SELECT b_id FROM tp),
           |und AS (SELECT a_id AS a, b_id AS b FROM tp
           |        UNION SELECT b_id, a_id FROM tp),
           |walk(node, lbl) AS (
           |  SELECT node, node FROM nodes
           |  UNION
           |  SELECT u.a, w.lbl FROM walk w JOIN und u ON u.b = w.node),
           |comp AS (SELECT node, MIN(lbl) AS component FROM walk GROUP BY node),
           |cs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
           |       FROM comp GROUP BY component)
           |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           |  CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_dropped
           |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin))

  /** Per-benchmark contamination report ([[Dedup.contaminationReport]]):
    * contaminating-train-doc count + worst Jaccard per benchmark doc,
    * over the same bench slice as `llm_decontaminate_neardup`.
    */
  val contaminationReportQ = OpQ("llm_contamination_report",
    (s, d) => {
      val all = docs(s, d)
      val bench = all.filter(pmod(col("doc_id"), lit(97L)) === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
      Dedup.contaminationReport(
        all.select(col("doc_id"), col("text")), bench, threshold = 0.3)
    },
    Some("""WITH bench AS MATERIALIZED (
           |  SELECT doc_id,
           |    array_to_string(list_slice(string_split(text, ' '), 1, 40), ' ') AS text
           |  FROM documents WHERE doc_id % 97 = 0),
           |train AS MATERIALIZED (SELECT doc_id, text FROM documents),
           |ts AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train) t,
           |            UNNEST(range(1, len(w) - 1)) AS u(i) WHERE len(w) >= 3
           |       UNION
           |       SELECT doc_id, text AS s FROM train
           |       WHERE len(string_split(text, ' ')) < 3),
           |bs AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM bench) t,
           |            UNNEST(range(1, len(w) - 1)) AS u(i) WHERE len(w) >= 3
           |       UNION
           |       SELECT doc_id, text AS s FROM bench
           |       WHERE len(string_split(text, ' ')) < 3),
           |tc AS (SELECT doc_id, COUNT(*) AS n FROM ts GROUP BY doc_id),
           |bc AS (SELECT doc_id, COUNT(*) AS n FROM bs GROUP BY doc_id),
           |pairs AS (SELECT ts.doc_id AS train_id, bs.doc_id AS bench_id,
           |            COUNT(*) AS common
           |          FROM ts JOIN bs ON ts.s = bs.s GROUP BY 1, 2),
           |hits AS (SELECT train_id, bench_id,
           |           CAST(common AS DOUBLE) / (tc.n + bc.n - common) AS jaccard
           |         FROM pairs JOIN tc ON tc.doc_id = train_id
           |                    JOIN bc ON bc.doc_id = bench_id
           |         WHERE CAST(common AS DOUBLE) / (tc.n + bc.n - common) >= 0.3)
           |SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_contaminating,
           |  MAX(jaccard) AS max_jaccard
           |FROM hits GROUP BY bench_id ORDER BY bench_id""".stripMargin))

  /** Brute-force cosine top-5 for query vectors (exact scaled-integer dot
    * products — bit-exact across engines and reduction orders).
    */
  val annBruteForce = OpQ("llm_ann_bruteforce_topk",
    (s, d) => Similarity.bruteForceTopK(emb(s, d), k = 5, queryMaxId = 5),
    Some("""WITH e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
           |q AS (SELECT * FROM e WHERE vec_id < 5),
           |dots AS (SELECT q.vec_id AS a_id, c.vec_id AS b_id,
           |           SUM(CAST(FLOOR(q.x * c.x * 1000000) AS BIGINT)) AS dot_m,
           |           SUM(CAST(FLOOR(q.x * q.x * 1000000) AS BIGINT)) AS qq_m,
           |           SUM(CAST(FLOOR(c.x * c.x * 1000000) AS BIGINT)) AS cc_m
           |         FROM q JOIN e c ON q.i = c.i AND q.vec_id <> c.vec_id
           |         GROUP BY q.vec_id, c.vec_id)
           |SELECT a_id, b_id,
           |  CAST(dot_m AS DOUBLE) / (SQRT(CAST(qq_m AS DOUBLE)) * SQRT(CAST(cc_m AS DOUBLE)))
           |    AS cosine,
           |  CAST(row_number() OVER (PARTITION BY a_id ORDER BY
           |    CAST(dot_m AS DOUBLE) / (SQRT(CAST(qq_m AS DOUBLE)) * SQRT(CAST(cc_m AS DOUBLE)))
           |    DESC, b_id) AS INTEGER) AS rn
           |FROM dots
           |QUALIFY rn <= 5
           |ORDER BY a_id, rn""".stripMargin))

  /** IVF-style top-3 within the query's coarse cell (`label` column as the
    * quantizer cell) — same exact math, 1/cells of the scan.
    */
  val annIvf = OpQ("llm_ann_ivf_topk",
    (s, d) => Similarity.ivfTopK(emb(s, d), k = 3, queryMaxId = 5),
    Some("""WITH e AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
           |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
           |q AS (SELECT * FROM e WHERE vec_id < 5),
           |dots AS (SELECT q.vec_id AS a_id, q.label AS cell, c.vec_id AS b_id,
           |           SUM(CAST(FLOOR(q.x * c.x * 1000000) AS BIGINT)) AS dot_m,
           |           SUM(CAST(FLOOR(q.x * q.x * 1000000) AS BIGINT)) AS qq_m,
           |           SUM(CAST(FLOOR(c.x * c.x * 1000000) AS BIGINT)) AS cc_m
           |         FROM q JOIN e c ON q.i = c.i AND q.label = c.label AND q.vec_id <> c.vec_id
           |         GROUP BY q.vec_id, q.label, c.vec_id)
           |SELECT a_id, cell, b_id,
           |  CAST(dot_m AS DOUBLE) / (SQRT(CAST(qq_m AS DOUBLE)) * SQRT(CAST(cc_m AS DOUBLE)))
           |    AS cosine,
           |  CAST(row_number() OVER (PARTITION BY a_id ORDER BY
           |    CAST(dot_m AS DOUBLE) / (SQRT(CAST(qq_m AS DOUBLE)) * SQRT(CAST(cc_m AS DOUBLE)))
           |    DESC, b_id) AS INTEGER) AS rn
           |FROM dots
           |QUALIFY rn <= 3
           |ORDER BY a_id, rn""".stripMargin))

  /** SQ8 scalar-quantized top-5 ([[Similarity.sq8TopK]]): integer dot
    * products over floor(x·127) quantized vectors — exact oracle (the
    * quantizer and dot are integer functions of the floats).
    */
  val annSq8 = OpQ("llm_ann_sq8_topk",
    (s, d) => Similarity.sq8TopK(emb(s, d), k = 5, queryMaxId = 5),
    Some("""WITH e AS (SELECT vec_id, i,
           |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 127) AS BIGINT) AS qx
           |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
           |q AS (SELECT * FROM e WHERE vec_id < 5),
           |dots AS (SELECT q.vec_id AS a_id, c.vec_id AS b_id,
           |    CAST(SUM(q.qx * c.qx) AS BIGINT) AS qdot
           |  FROM q JOIN e c ON q.i = c.i AND q.vec_id <> c.vec_id
           |  GROUP BY q.vec_id, c.vec_id)
           |SELECT a_id, b_id, qdot,
           |  CAST(row_number() OVER (PARTITION BY a_id ORDER BY qdot DESC, b_id)
           |    AS INTEGER) AS rn
           |FROM dots QUALIFY rn <= 5 ORDER BY a_id, rn""".stripMargin))

  /** Per-query verifiable summary of an approximate-ANN result: the
    * exact brute-force top-k neighbor list (fully DuckDB-replayable — the
    * same quantized-cosine arithmetic as `llm_ann_bruteforce_topk`)
    * joined with two self-check booleans over the approximate rows:
    * `cos_dual_path_ok` — every cosine the approximate path reported is
    * bit-identical to an INDEPENDENT builtin-only recomputation
    * (`aggregate(zip_with(...))` replaying the codegen
    * [[graft.functions.ScaledDotMicros]] tree), and `rank_ok` — the
    * reported ranks are a contiguous 1..n. Which true neighbors the
    * approximate index SURFACES stays a measured-recall property
    * (SimilaritySpec); what the driver gates here is that the exact
    * ranking is right and the approximate path's arithmetic never
    * drifts from spec. Queries the approximate index returned nothing
    * for pass vacuously (that is the recall dimension, spec-gated).
    */
  private def annGateSummary(s: SparkSession, d: String, approx: DataFrame,
      k: Int, queryMaxId: Long): DataFrame = {
    val e = emb(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("vd"))
    def hofDot(a: String, b: String) = expr(
      s"aggregate(zip_with($a, $b, (x, y) -> cast(floor(x * y * 1e6) as bigint)), " +
        "0L, (acc, v) -> acc + v)")
    val checked = approx
      .join(e.select(col("vec_id").as("a_id"), col("vd").as("a_vd")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("vd").as("b_vd")), "b_id")
      .withColumn("cos_hof",
        hofDot("a_vd", "b_vd").cast("double") /
          (sqrt(hofDot("a_vd", "a_vd").cast("double")) *
            sqrt(hofDot("b_vd", "b_vd").cast("double"))))
      .groupBy(col("a_id"))
      .agg(bool_and(col("cosine") === col("cos_hof")).as("cos_dual_path_ok"),
        (max(col("rn")) === count(lit(1)) && min(col("rn")) === 1).as("rank_ok"))
    Similarity.bruteForceTopK(emb(s, d), k = k, queryMaxId = queryMaxId)
      .groupBy(col("a_id"))
      .agg(to_json(expr(
          "transform(array_sort(collect_list(struct(rn, b_id))), r -> r.b_id)"))
          .as("exact_topk"),
        count(lit(1)).cast("long").as("n_exact"))
      .join(checked, Seq("a_id"), "left")
      .select(col("a_id"), col("exact_topk"), col("n_exact"),
        coalesce(col("cos_dual_path_ok"), lit(true)).as("cos_dual_path_ok"),
        coalesce(col("rank_ok"), lit(true)).as("rank_ok"))
      .orderBy(col("a_id"))
  }

  private def annGateOracle(k: Int, queryMaxId: Long): String =
    s"""WITH e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
       |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
       |q AS (SELECT * FROM e WHERE vec_id < $queryMaxId),
       |dots AS (SELECT q.vec_id AS a_id, c.vec_id AS b_id,
       |           SUM(CAST(FLOOR(q.x * c.x * 1000000) AS BIGINT)) AS dot_m,
       |           SUM(CAST(FLOOR(q.x * q.x * 1000000) AS BIGINT)) AS qq_m,
       |           SUM(CAST(FLOOR(c.x * c.x * 1000000) AS BIGINT)) AS cc_m
       |         FROM q JOIN e c ON q.i = c.i AND q.vec_id <> c.vec_id
       |         GROUP BY q.vec_id, c.vec_id),
       |ranked AS (SELECT a_id, b_id,
       |  row_number() OVER (PARTITION BY a_id ORDER BY
       |    CAST(dot_m AS DOUBLE) / (SQRT(CAST(qq_m AS DOUBLE)) * SQRT(CAST(cc_m AS DOUBLE)))
       |    DESC, b_id) AS rn
       |  FROM dots)
       |SELECT a_id, to_json(list(b_id ORDER BY rn)) AS exact_topk,
       |  CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  TRUE AS cos_dual_path_ok, TRUE AS rank_ok
       |FROM ranked WHERE rn <= $k GROUP BY a_id ORDER BY a_id""".stripMargin

  /** LSH (sign-random-projection) bucketed top-k, gated via
    * [[annGateSummary]]: the exact top-3 list per query is
    * hash-verified; the LSH rows are dual-path arithmetic-checked. The
    * raw hyperplane buckets (murmur3 bit mixes DuckDB cannot replay)
    * and the recall tier stay SimilaritySpec gates.
    */
  val annLsh = OpQ("llm_ann_lsh_topk",
    (s, d) => annGateSummary(s, d,
      Similarity.lshTopK(emb(s, d), k = 3, queryMaxId = 10, planes = 6),
      k = 3, queryMaxId = 10),
    Some(annGateOracle(k = 3, queryMaxId = 10)))

  /** Product-quantization ADC top-k ([[Similarity.pqTopK]]): learned
    * integer codebooks, code-lookup candidate ranking, exact shortlist
    * re-rank — gated via [[annGateSummary]] (the learned codebook has
    * no SQL counterpart; the exact ranking and the reported-cosine
    * arithmetic do, and those are what the driver hashes).
    */
  val annPq = OpQ("llm_ann_pq_topk",
    (s, d) => annGateSummary(s, d,
      Similarity.pqTopK(emb(s, d), k = 5, queryMaxId = 5),
      k = 5, queryMaxId = 5),
    Some(annGateOracle(k = 5, queryMaxId = 5)))

  /** Token statistics (exact-integer oracle). */
  val textStats = OpQ("llm_text_stats",
    (s, d) => TextAnalysis.tokenStats(docs(s, d))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("n_chars_m").as("n_chars_len"), col("avg_word_len"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
           |  CAST(length(text) AS BIGINT) AS n_chars_len,
           |  CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
           |    / len(string_split(text, ' ')) AS avg_word_len
           |FROM documents ORDER BY doc_id""".stripMargin))

  private def duckStopScore(lang: String): String = {
    val list = TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($list))) AS BIGINT) AS score_$lang"
  }

  /** Language id by stopword-lexicon scoring (exact-integer oracle with the
    * same lexicons and tie-break).
    */
  val textLangId = OpQ("llm_text_langid",
    (s, d) => TextAnalysis.langId(docs(s, d))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        col("score_de"), col("score_en"), col("score_es"), col("score_fr"),
        col("predicted_lang"))
      .orderBy(col("doc_id")),
    Some(s"""WITH scored AS (
            |  SELECT doc_id, lang AS labeled_lang,
            |    ${duckStopScore("de")}, ${duckStopScore("en")},
            |    ${duckStopScore("es")}, ${duckStopScore("fr")}
            |  FROM documents)
            |SELECT doc_id, labeled_lang, score_de, score_en, score_es, score_fr,
            |  CASE WHEN GREATEST(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
            |       WHEN score_de = GREATEST(score_de, score_en, score_es, score_fr) THEN 'de'
            |       WHEN score_en = GREATEST(score_de, score_en, score_es, score_fr) THEN 'en'
            |       WHEN score_es = GREATEST(score_de, score_en, score_es, score_fr) THEN 'es'
            |       ELSE 'fr' END AS predicted_lang
            |FROM scored ORDER BY doc_id""".stripMargin))

  /** Tokenizer fertility by predicted language
    * ([[TextAnalysis.tokenizerFertility]]): tokens-per-word under the
    * fixed merge list, per langId language — the multilingual
    * token-budget statistic. One fused corpus scan (langid scores +
    * encode chain are per-row expressions) and a |languages|-row
    * aggregate; the oracle replays both expression families and the
    * integer-exact ppm division.
    */
  /** Shared DuckDB replay of the fused fertility scan — used by the
    * one-shot gate here AND the streaming twin's merged-counter gate
    * (`stream_tokenizer_fertility`): both must reduce to the identical
    * whole-corpus per-language report.
    */
  private[graft] val tokenizerFertilityOracleSql: String = {
      val sep = "\u001F"
      val base = s"regexp_replace(w, '${TextAnalysis.AnyCharCapture}', '$sep\\1$sep', 'g')"
      val chain = TextAnalysis.DefaultBpeMerges.foldLeft(base) {
        case (acc, (x, y)) =>
          s"replace($acc, '$sep$x$sep$sep$y$sep', '$sep$x$y$sep')"
      }
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    ${duckStopScore("de")}, ${duckStopScore("en")},
         |    ${duckStopScore("es")}, ${duckStopScore("fr")},
         |    string_split_regex(lower(coalesce(text, '')), '${TextAnalysis.WsSplitRegex}') AS ws
         |  FROM documents),
         |enc AS (
         |  SELECT
         |    CASE WHEN GREATEST(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
         |         WHEN score_de = GREATEST(score_de, score_en, score_es, score_fr) THEN 'de'
         |         WHEN score_en = GREATEST(score_de, score_en, score_es, score_fr) THEN 'en'
         |         WHEN score_es = GREATEST(score_de, score_en, score_es, score_fr) THEN 'es'
         |         ELSE 'fr' END AS predicted_lang,
         |    CAST(len(list_filter(ws, w -> length(w) >= 1)) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(
         |      list_transform(ws, w -> $chain),
         |      s -> (length(s) - length(replace(s, '$sep', ''))) // 2)), 0) AS BIGINT) AS n_tokens_bpe
         |  FROM scored)
         |SELECT predicted_lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(n_tokens_bpe) AS BIGINT) AS n_tokens_bpe,
         |  CASE WHEN SUM(n_words) = 0 THEN NULL
         |       ELSE CAST(1000000 * SUM(n_tokens_bpe) // SUM(n_words) AS BIGINT) END
         |    AS fertility_ppm
         |FROM enc GROUP BY predicted_lang ORDER BY predicted_lang""".stripMargin
  }

  val tokenizerFertilityQ = OpQ("llm_tokenizer_fertility",
    (s, d) => TextAnalysis.tokenizerFertility(docs(s, d)),
    Some(tokenizerFertilityOracleSql))

  /** Quality score from exact integer counts (oracle mirrors the formula). */
  val textQuality = OpQ("llm_text_quality",
    (s, d) => TextAnalysis.qualityScore(docs(s, d))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"), col("n_distinct"), col("quality"))
      .orderBy(col("doc_id")),
    Some({
      val en = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ($en))) AS BIGINT) AS n_stop,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         |  LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.4
         |    + (CAST(len(list_filter(string_split(text, ' '), t -> t IN ($en))) AS DOUBLE)
         |       / len(string_split(text, ' '))) * 0.3
         |    + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |       / len(string_split(text, ' '))) * 0.3 AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    }))

  /** md5 content fingerprint (oracle-able); the rolling FNV-1a fingerprint
    * gets its own full oracle in [[fingerprintRolling]].
    */
  val textFingerprint = OpQ("llm_text_fingerprint",
    (s, d) => TextAnalysis.fingerprints(docs(s, d))
      .select(col("doc_id"), col("md5_fp"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, md5(text) AS md5_fp FROM documents ORDER BY doc_id""".stripMargin))

  /** Rolling FNV-1a 64 fingerprint ([[graft.functions.RollingHash64]])
    * with a FULL exact oracle: FNV-1a is plain integer arithmetic
    * (h ← (h ⊕ byte)·prime mod 2⁶⁴), so DuckDB replays it as a
    * `list_reduce` fold over the code points (= UTF-8 bytes — the corpus
    * is pure ASCII, asserted offline) in HUGEINT mod-2⁶⁴ arithmetic,
    * with the xor narrowed to the low 8 bits (b < 256, so
    * x⊕b = x − x%256 + (x%256 ⊕ b)) and the final unsigned value mapped
    * to Spark's signed BIGINT two's-complement. Known-value gates stay
    * in FunctionsSpec.
    */
  val fingerprintRolling = OpQ("llm_fingerprint_rolling",
    (s, d) => TextAnalysis.fingerprints(docs(s, d))
      .select(col("doc_id"), col("rolling_fp"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
           |            THEN h - 18446744073709551616::HUGEINT
           |            ELSE h END AS BIGINT) AS rolling_fp
           |FROM (
           |  SELECT doc_id,
           |    CASE WHEN length(text) = 0 THEN 14695981039346656037::HUGEINT
           |    ELSE list_reduce(
           |      list_prepend(14695981039346656037::HUGEINT,
           |        list_transform(range(1, length(text) + 1),
           |          i -> CAST(unicode(text[i]) AS HUGEINT))),
           |      (h, b) -> ((h - (h % 256) + xor(h % 256, b))
           |                 * 1099511628211::HUGEINT)
           |                % 18446744073709551616::HUGEINT)
           |    END AS h
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Gopher-style repetition filters (repeated-bigram fractions) — exact
    * integer histogram + deterministic ratios, full oracle.
    */
  val textRepetition = OpQ("llm_text_repetition",
    (s, d) => TextAnalysis.repetitionStats(docs(s, d))
      .orderBy(col("doc_id")),
    Some("""WITH g AS (
           |  SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS g
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) s,
           |       UNNEST(range(1, greatest(len(w) - 1, 1) + 1)) t(i)),
           |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g)
           |SELECT doc_id,
           |  SUM(c)::BIGINT AS n_bigrams,
           |  MAX(c)::BIGINT AS top_bigram_n,
           |  SUM(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS repeated_bigram_n,
           |  MAX(c)::DOUBLE / SUM(c) AS top_bigram_frac,
           |  SUM(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / SUM(c) AS repeated_bigram_frac
           |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Corpus bigram novelty ([[TextAnalysis.bigramNovelty]]): exact-integer
    * commonness/novelty per document — the log-free n-gram-LM filter
    * signal.
    */
  val textNovelty = OpQ("llm_text_novelty",
    (s, d) => TextAnalysis.bigramNovelty(docs(s, d))
      .orderBy(col("doc_id")),
    Some("""WITH g AS (
           |  SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS g
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) s,
           |       UNNEST(range(1, greatest(len(w) - 1, 1) + 1)) t(i)),
           |pd AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY doc_id, g),
           |cf AS (SELECT g, CAST(SUM(c) AS BIGINT) AS cf FROM pd GROUP BY g),
           |agg AS (
           |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
           |    CAST(SUM(c * cf.cf) AS BIGINT) AS freq_sum
           |  FROM pd JOIN cf USING (g) GROUP BY doc_id)
           |SELECT doc_id, n_bigrams, freq_sum,
           |  freq_sum // n_bigrams AS commonness,
           |  1000000 * n_bigrams // freq_sum AS novelty_ppm
           |FROM agg ORDER BY doc_id""".stripMargin))

  /** Decontamination against a deterministic blocklist (docs with
    * doc_id % 97 = 0 stand in for a benchmark suite): any shared 3-gram
    * shingle flags the document. The planted duplicate groups in the
    * corpus guarantee non-trivial cross-document contamination. The
    * oracle mirrors the shingle construction (distinct word 3-grams,
    * whole-text fallback under 3 tokens) exactly.
    */
  val decontaminate = OpQ("llm_decontaminate",
    (s, d) => {
      val all = docs(s, d)
      Dedup.decontaminate(all, all.filter(col("doc_id") % 97 === 0))
        .select(col("doc_id"), col("contaminated"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (
           |  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
           |sh AS (
           |  SELECT doc_id,
           |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(range(1, len(w) - 1),
           |         i -> array_to_string(list_slice(w, i, i + 2), ' ')))
           |    ELSE [text] END AS shingles
           |  FROM w),
           |ds AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
           |bs AS (SELECT DISTINCT UNNEST(shingles) AS s FROM sh WHERE doc_id % 97 = 0),
           |bad AS (SELECT DISTINCT ds.doc_id FROM ds JOIN bs USING (s))
           |SELECT w.doc_id, w.doc_id IN (SELECT doc_id FROM bad) AS contaminated
           |FROM w ORDER BY doc_id""".stripMargin))

  /** Context-window chunking (64-token windows, 16-token overlap) — chunk
    * boundaries, sizes and text are exact functions of the token array, so
    * the full explode output oracles bit-exact.
    */
  val chunkDocs = OpQ("llm_chunk_documents",
    (s, d) => TextAnalysis.chunkDocuments(docs(s, d), chunkTokens = 64, overlap = 16)
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""SELECT doc_id, n_tokens,
           |  ((start - 1) // 48)::BIGINT AS chunk_idx,
           |  start::BIGINT AS start_token,
           |  len(list_slice(w, start, start + 63))::BIGINT AS chunk_tokens,
           |  array_to_string(list_slice(w, start, start + 63), ' ') AS chunk_text
           |FROM (
           |  SELECT doc_id, len(w)::BIGINT AS n_tokens, w,
           |    UNNEST(range(1, greatest(1, len(w) - 16) + 1, 48)) AS start
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) s) t
           |ORDER BY doc_id, chunk_idx""".stripMargin))

  /** Deterministic stratified sampling: 20 docs per byte-length stratum,
    * picked by an exact integer pseudo-random permutation — the balanced
    * downsampling step of a curation pipeline, bit-reproducible on any
    * engine (unlike RNG sampleBy), hence a full DuckDB oracle.
    */
  val sampleStratified = OpQ("llm_sample_stratified",
    (s, d) => TextAnalysis.stratifiedSample(
        docs(s, d).withColumn("stratum",
          pmod(octet_length(col("text")).cast("long"), lit(5L))),
        "stratum", perKey = 20)
      .select(col("doc_id"), col("stratum"))
      .orderBy(col("stratum"), col("doc_id")),
    Some("""SELECT doc_id, stratum FROM (
           |  SELECT doc_id, octet_length(CAST(text AS BLOB)) % 5 AS stratum,
           |    ROW_NUMBER() OVER (PARTITION BY octet_length(CAST(text AS BLOB)) % 5
           |      ORDER BY (doc_id * 2654435761) % 4294967311, doc_id) AS rn
           |  FROM documents) t
           |WHERE rn <= 20 ORDER BY stratum, doc_id""".stripMargin))

  /** PII redaction: every pipeline's scrubbing pass. The corpus has no
    * real PII, so a deterministic contact line (email + phone derived from
    * doc_id) is appended in BOTH engines and must be masked identically;
    * counts after masking are exact integers. The regexes are RE2-safe so
    * the identical pattern text runs on java.util.regex and DuckDB.
    */
  val textRedact = OpQ("llm_text_redact",
    (s, d) => TextAnalysis.redactPii(
        docs(s, d).withColumn("text",
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or (555) 010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("clean_text"))
      .orderBy(col("doc_id")),
    Some {
      val em = TextAnalysis.emailRe
      val ph = TextAnalysis.phoneRe
      s"""WITH t AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id || '@example.com or (555) 010-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(regexp_replace(text, '$em', '<EMAIL>', 'g'), '$ph')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(text, '$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g') AS clean_text
         |FROM t ORDER BY doc_id""".stripMargin
    })

  /** Multimodal: binary payload + stub-decoded image metadata (the stub
    * dims are a pure function of byte length, so DuckDB can oracle the
    * whole plumbing).
    */
  val multimodalDecode = OpQ("llm_multimodal_decode",
    (s, d) => Multimodal.decodeImageMeta(Multimodal.attachBlob(docs(s, d)))
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"), col("channels"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           |  64 + CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 64 AS width,
           |  64 + (CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * 7) % 64 AS height,
           |  CAST(3 AS BIGINT) AS channels
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Multimodal: REAL PNG codec round-trip — synthetic PNGs are encoded
    * per-row on executors (dims a known function of doc_id) and decoded by
    * the real `javax.imageio` path, so DuckDB oracles the whole
    * encode→decode loop arithmetically.
    */
  val multimodalPng = OpQ("llm_multimodal_png",
    (s, d) => Multimodal.decodeImagePartitioned(s, stagedBlobs(s, d, "png"))
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  CAST(8 + doc_id % 16 AS BIGINT) AS width,
           |  CAST(8 + doc_id % 11 AS BIGINT) AS height,
           |  CAST(3 AS BIGINT) AS channels
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Multimodal: REAL JPEG codec round-trip — same loop as
    * `llm_multimodal_png` but through ImageIO's JPEG writer/reader (lossy
    * pixels; dims and channel count are exact, so the oracle holds).
    */
  val multimodalJpeg = OpQ("llm_multimodal_jpeg",
    (s, d) => Multimodal.decodeImagePartitioned(s, stagedBlobs(s, d, "jpg"))
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  CAST(8 + doc_id % 16 AS BIGINT) AS width,
           |  CAST(8 + doc_id % 11 AS BIGINT) AS height,
           |  CAST(3 AS BIGINT) AS channels
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Multimodal: REAL WAV audio codec — synthetic PCM WAVs (rate/channels/
    * frames known functions of doc_id) decoded by `javax.sound`, so the
    * oracle is arithmetic. The codegen header parse (`wavHeaderMeta`) is
    * cross-checked in MultimodalSpec.
    */
  val multimodalWav = OpQ("llm_multimodal_wav",
    (s, d) => Multimodal.decodeAudioPartitioned(s, stagedBlobs(s, d, "wav"))
      .select(col("doc_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("n_frames"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
           |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           |  CAST(100 + doc_id % 50 AS BIGINT) AS n_frames
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Multimodal: REAL audio resample — decode the synthetic PCM WAVs,
    * decimate 2:1, checksum the kept channel-0 samples. Every output
    * column is integer arithmetic on doc_id (the fixture's PCM byte
    * formula), so DuckDB replays decode+decimation exactly: the
    * strongest gate available for a codec-path transform.
    */
  val multimodalAudioResample = OpQ("llm_multimodal_audio_resample",
    (s, d) => Multimodal.resampleAudioPartitioned(s, stagedBlobs(s, d, "wav"), factor = 2)
      .orderBy(col("doc_id")),
    Some("""WITH meta AS (
           |  SELECT doc_id,
           |    8000 + (doc_id % 4) * 4000 AS rate,
           |    1 + doc_id % 2 AS ch,
           |    100 + doc_id % 50 AS f
           |  FROM documents),
           |samp AS (
           |  SELECT m.doc_id,
           |    (m.doc_id * 31 + (2 * (2 * j) * m.ch) * 7) % 256
           |      + 256 * ((m.doc_id * 31 + (2 * (2 * j) * m.ch + 1) * 7) % 256) AS u
           |  FROM meta m, UNNEST(range(0, (m.f + 1) // 2)) t(j)),
           |agg AS (
           |  SELECT doc_id,
           |    CAST(SUM(u - CASE WHEN u >= 32768 THEN 65536 ELSE 0 END) AS BIGINT)
           |      AS checksum0
           |  FROM samp GROUP BY doc_id)
           |SELECT m.doc_id,
           |  CAST(m.rate // 2 AS BIGINT) AS sample_rate_out,
           |  CAST((m.f + 1) // 2 AS BIGINT) AS n_frames_out,
           |  a.checksum0
           |FROM meta m JOIN agg a USING (doc_id) ORDER BY m.doc_id""".stripMargin))

  /** Multimodal: frame-sampling explode shape (frame_idx, byte_offset). */
  val multimodalFrames = OpQ("llm_multimodal_frames",
    (s, d) => Multimodal.sampleFrames(Multimodal.attachBlob(docs(s, d)))
      .orderBy(col("doc_id"), col("frame_idx")),
    Some("""SELECT doc_id,
           |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           |  CAST(i AS BIGINT) AS frame_idx,
           |  CAST(i * 256 AS BIGINT) AS byte_offset
           |FROM documents,
           |  UNNEST(range(0, 1 + CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 7)) t(i)
           |ORDER BY doc_id, frame_idx""".stripMargin))

  /** BPE-ish regex tokenization: letter-runs / digit-runs / single
    * non-alnum symbols (the pre-tokenizer shape of byte-pair encoders).
    * Counts are exact integers — full oracle.
    */
  val textTokenize = OpQ("llm_text_tokenize",
    (s, d) => docs(s, d)
      .withColumn("toks", expr(
        """regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"""))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_bpe_tokens"),
        expr("size(filter(toks, t -> t rlike '^[0-9]+$'))").cast("long").as("n_num_tokens"),
        element_at(col("toks"), 1).as("first_token"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
           |    AS n_bpe_tokens,
           |  CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'),
           |    t -> regexp_matches(t, '^[0-9]+$'))) AS BIGINT) AS n_num_tokens,
           |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')[1] AS first_token
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Embedding near-duplicate detection: nearest neighbor per query
    * vector with a cosine threshold flag — the embedding-space analogue of
    * the text dedup family (exact math, full oracle).
    */
  val dedupEmbedding = OpQ("llm_dedup_embedding",
    (s, d) => Similarity.bruteForceTopK(emb(s, d), k = 1, queryMaxId = 50)
      .select(col("a_id"), col("b_id").as("nearest_id"), col("cosine"),
        (col("cosine") >= 0.95).as("is_near_dup"))
      .orderBy(col("a_id")),
    Some("""WITH e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
           |q AS (SELECT * FROM e WHERE vec_id < 50),
           |dots AS (SELECT q.vec_id AS a_id, c.vec_id AS b_id,
           |           SUM(CAST(FLOOR(q.x * c.x * 1000000) AS BIGINT)) AS dot_m,
           |           SUM(CAST(FLOOR(q.x * q.x * 1000000) AS BIGINT)) AS qq_m,
           |           SUM(CAST(FLOOR(c.x * c.x * 1000000) AS BIGINT)) AS cc_m
           |         FROM q JOIN e c ON q.i = c.i AND q.vec_id <> c.vec_id
           |         GROUP BY q.vec_id, c.vec_id),
           |ranked AS (SELECT a_id, b_id,
           |  CAST(dot_m AS DOUBLE) / (SQRT(CAST(qq_m AS DOUBLE)) * SQRT(CAST(cc_m AS DOUBLE)))
           |    AS cosine,
           |  row_number() OVER (PARTITION BY a_id ORDER BY
           |    CAST(dot_m AS DOUBLE) / (SQRT(CAST(qq_m AS DOUBLE)) * SQRT(CAST(cc_m AS DOUBLE)))
           |    DESC, b_id) AS rn
           |  FROM dots)
           |SELECT a_id, b_id AS nearest_id, cosine, cosine >= 0.95 AS is_near_dup
           |FROM ranked WHERE rn = 1 ORDER BY a_id""".stripMargin))

  /** Exact corpus-wide top tokens (explode → count → top-k, oracle-exact). */
  val textTopTokens = OpQ("llm_text_top_tokens",
    (s, d) => docs(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20),
    Some("""SELECT token, COUNT(*) AS n
           |FROM documents, UNNEST(string_split(text, ' ')) t(token)
           |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin))

  /** Misra–Gries heavy-hitters sketch over the token stream, gated by
    * the sketch's own THEOREM rather than its (merge-order-dependent)
    * estimates: with C = 64 counters the merged summary undercounts any
    * token by at most n/(C+1), so every token whose true frequency
    * exceeds n/C MUST survive in the buffer (Misra–Gries '82; merge
    * bound per Agarwal et al., "Mergeable Summaries", PODS'12). The
    * query computes the exact heavy-hitter set (token, n — both
    * DuckDB-verifiable) and `in_sketch` = membership of that token in
    * the whole sketch buffer (k = capacity returns all counters); the
    * oracle expects TRUE per row, so a dropped guaranteed heavy hitter
    * hash-mismatches. Estimate-quality gates stay in FunctionsSpec.
    */
  val textTopTokensSketch = OpQ("llm_text_top_tokens_sketch",
    (s, d) => {
      val toks = docs(s, d).select(explode(split(col("text"), " ")).as("token"))
      val sk = toks.agg(
        graft.functions.TopKFreq.top_k_freq(col("token"), 64, 64).as("hh"))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      val tot = exact.agg(sum(col("n")).as("n_total"))
      exact.crossJoin(broadcast(tot))
        .filter(col("n") * 64 > col("n_total"))
        .crossJoin(broadcast(sk))
        .select(col("token"), col("n"),
          array_contains(col("hh"), col("token")).as("in_sketch"))
        .orderBy(col("token"))
    },
    Some("""WITH toks AS (
           |  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
           |cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
           |        FROM toks GROUP BY token),
           |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cnt)
           |SELECT token, n, TRUE AS in_sketch
           |FROM cnt, tot WHERE n * 64 > n_total ORDER BY token""".stripMargin))

  /** End-to-end corpus curation pipeline — the composition a training-data
    * job actually runs: exact-dedup (keep first), quality-filter, attach
    * token statistics and fingerprints, emit the curated set. One Spark
    * job, three shuffles (dedup window, none for scoring, final sort);
    * fully oracle-expressible because each stage is.
    */
  val pipelineCurate = OpQ("llm_pipeline_curate",
    (s, d) => {
      val deduped = Dedup.exactDedup(docs(s, d))
        .filter(!col("is_dup"))
        .select(col("doc_id"), col("text"), col("lang"))
      val scored = TextAnalysis.qualityScore(deduped)
        .filter(col("quality") >= 0.4)
      TextAnalysis.fingerprints(scored)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"), col("md5_fp"))
        .orderBy(col("doc_id"))
    },
    Some({
      val en = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
      s"""WITH deduped AS (
         |  SELECT doc_id, text, lang FROM (
         |    SELECT doc_id, text, lang,
         |      doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
         |    FROM documents) t
         |  WHERE NOT is_dup),
         |scored AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.4
         |      + (CAST(len(list_filter(string_split(text, ' '), t -> t IN ($en))) AS DOUBLE)
         |         / len(string_split(text, ' '))) * 0.3
         |      + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |         / len(string_split(text, ' '))) * 0.3 AS quality,
         |    md5(text) AS md5_fp
         |  FROM deduped)
         |SELECT doc_id, lang, n_tokens, quality, md5_fp
         |FROM scored WHERE quality >= 0.4
         |ORDER BY doc_id""".stripMargin
    }))

  /** E2E curation v2 — the round-4 pipeline: exact dedup → decontaminate
    * against a blocklist → PII-redact → context-window chunk (32/8). Four
    * stages, each individually oracle-proven, composed into one lazy plan:
    * dedup window shuffle, broadcast decontamination semi-join, per-row
    * redaction, shuffle-free chunk explode. Fully oracle-expressible.
    */
  val pipelineCurate2 = OpQ("llm_pipeline_curate_v2",
    (s, d) => {
      val all = docs(s, d)
      val deduped = Dedup.exactDedup(all).filter(!col("is_dup"))
        .select(col("doc_id"), col("text"))
      val clean = Dedup.decontaminate(deduped, all.filter(col("doc_id") % 97 === 0))
        .filter(!col("contaminated"))
        .select(col("doc_id"), col("text"))
      val redacted = TextAnalysis.redactPii(
          clean.withColumn("text",
            concat(col("text"), lit(" mail user"), col("doc_id"), lit("@example.com"))))
        .select(col("doc_id"), col("clean_text").as("text"))
      TextAnalysis.chunkDocuments(redacted, chunkTokens = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some {
      val em = TextAnalysis.emailRe
      val ph = TextAnalysis.phoneRe
      val mkShingles =
        """CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(range(1, len(w) - 1),
          |       i -> array_to_string(list_slice(w, i, i + 2), ' ')))
          |     ELSE [text] END""".stripMargin
      s"""WITH deduped AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
         |    FROM documents) t WHERE NOT is_dup),
         |shd AS (
         |  SELECT doc_id, $mkShingles AS shingles
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM deduped) x),
         |shb AS (
         |  SELECT $mkShingles AS shingles
         |  FROM (SELECT text, string_split(text, ' ') AS w FROM documents
         |        WHERE doc_id % 97 = 0) x),
         |bs AS (SELECT DISTINCT UNNEST(shingles) AS s FROM shb),
         |ds AS (SELECT doc_id, UNNEST(shingles) AS s FROM shd),
         |bad AS (SELECT DISTINCT ds.doc_id FROM ds JOIN bs USING (s)),
         |red AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(
         |      text || ' mail user' || doc_id || '@example.com',
         |      '$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g') AS text
         |  FROM deduped WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
         |wr AS (SELECT doc_id, string_split(text, ' ') AS w FROM red)
         |SELECT doc_id, len(w)::BIGINT AS n_tokens,
         |  ((start - 1) // 24)::BIGINT AS chunk_idx,
         |  start::BIGINT AS start_token,
         |  len(list_slice(w, start, start + 31))::BIGINT AS chunk_tokens,
         |  array_to_string(list_slice(w, start, start + 31), ' ') AS chunk_text
         |FROM (SELECT doc_id, w, UNNEST(range(1, greatest(len(w) - 8, 1) + 1, 24)) AS start
         |      FROM wr) t
         |ORDER BY doc_id, chunk_idx""".stripMargin
    })

  /** Shuffle-free deterministic rate sampling ([[Mixing.hashSample]]):
    * 12% of the corpus by permuted-id threshold. Pure per-row predicate —
    * the oracle replays the identical BIGINT arithmetic.
    */
  val sampleHash = OpQ("llm_sample_hash",
    (s, d) => Mixing.hashSample(docs(s, d), keepPpm = 120000L)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source FROM documents
           |WHERE (doc_id * 2654435761) % 4294967311 % 1000000 < 120000
           |ORDER BY doc_id""".stripMargin))

  /** Deterministic train/val/test split ([[Mixing.splitTrainValTest]]):
    * 90/5/5 assignment from the exact integer permutation — a pure
    * per-row predicate (no shuffle), stable under ingest so held-out
    * docs stay held out. The oracle replays the permutation arithmetic.
    */
  val splitTrainVal = OpQ("llm_split_train_val",
    (s, d) => Mixing.splitTrainValTest(docs(s, d),
      trainPpm = 900000L, valPpm = 50000L)
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source,
           |  CASE WHEN (doc_id * 2654435761) % 4294967311 % 1000000 < 900000
           |         THEN 'train'
           |       WHEN (doc_id * 2654435761) % 4294967311 % 1000000 < 950000
           |         THEN 'validation'
           |       ELSE 'test' END AS split
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Cross-split exact-duplicate leakage ([[Mixing.splitLeakage]]): for
    * each ordered split pair, how many distinct duplicated contents and
    * how many document pairs straddle the boundary — the post-split eval
    * hygiene check. Single md5-keyed aggregation (multiplicity products,
    * no pairwise join); the oracle replays the permutation split and the
    * same per-hash arithmetic.
    */
  val splitLeakageQ = OpQ("llm_split_leakage",
    (s, d) => Mixing.splitLeakage(docs(s, d), trainPpm = 900000L, valPpm = 50000L)
      .orderBy(col("split_a"), col("split_b")),
    Some("""WITH sp AS (
           |  SELECT md5(text) AS h,
           |    CASE WHEN (doc_id * 2654435761) % 4294967311 % 1000000 < 900000
           |           THEN 'train'
           |         WHEN (doc_id * 2654435761) % 4294967311 % 1000000 < 950000
           |           THEN 'validation'
           |         ELSE 'test' END AS split
           |  FROM documents),
           |ph AS (
           |  SELECT h,
           |    SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
           |    SUM(CASE WHEN split = 'validation' THEN 1 ELSE 0 END) AS n_val,
           |    SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
           |  FROM sp GROUP BY h)
           |SELECT split_a, split_b,
           |  CAST(leaked_texts AS BIGINT) AS leaked_texts,
           |  CAST(leaked_pairs AS BIGINT) AS leaked_pairs
           |FROM (
           |  SELECT 'train' AS split_a, 'validation' AS split_b,
           |    COALESCE(SUM(CASE WHEN n_train > 0 AND n_val > 0 THEN 1 ELSE 0 END), 0) AS leaked_texts,
           |    COALESCE(SUM(n_train * n_val), 0) AS leaked_pairs FROM ph
           |  UNION ALL SELECT 'train', 'test',
           |    COALESCE(SUM(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END), 0),
           |    COALESCE(SUM(n_train * n_test), 0) FROM ph
           |  UNION ALL SELECT 'validation', 'test',
           |    COALESCE(SUM(CASE WHEN n_val > 0 AND n_test > 0 THEN 1 ELSE 0 END), 0),
           |    COALESCE(SUM(n_val * n_test), 0) FROM ph)
           |ORDER BY split_a, split_b""".stripMargin))

  /** Leakage-free content-keyed split ([[Mixing.splitByContent]]): the
    * ppm band comes from the md5-digest key, so byte-identical docs land
    * in the same split by construction. The whole assignment is
    * engine-replayable — the oracle parses the same 15 hex digits and
    * runs the same permutation (HUGEINT product, exact) — so the gate is
    * the plain per-document assignment, hash-compared bit-exactly.
    */
  val splitByContentQ = OpQ("llm_split_by_content",
    (s, d) => Mixing.splitByContent(docs(s, d),
        trainPpm = 900000L, valPpm = 50000L)
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source,
           |  CASE WHEN slot < 900000 THEN 'train'
           |       WHEN slot < 950000 THEN 'validation'
           |       ELSE 'test' END AS split
           |FROM (SELECT doc_id, source,
           |        (CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
           |           AS HUGEINT) * 2654435761) % 4294967311 % 1000000 AS slot
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Epoch/upsampling plan ([[Mixing.epochPlan]]): per-source pass
    * counts to hit a 10M-token budget at length-derived weights — exact
    * BIGINT plan arithmetic, replayed by the oracle.
    */
  val epochPlanQ = OpQ("llm_mix_epoch_plan",
    (s, d) => {
      val base = docs(s, d)
      val weights = base.select(col("source")).distinct()
        .select(col("source"), (length(col("source")) % 3 + 1).cast("long").as("w"))
      Mixing.epochPlan(base, weights, budgetTokens = 10000000L)
        .orderBy(col("source"))
    },
    Some("""WITH w AS (SELECT source AS src,
           |             CAST(length(source) % 3 + 1 AS BIGINT) AS w
           |           FROM (SELECT DISTINCT source FROM documents)),
           |sw AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM w),
           |t AS (SELECT source,
           |        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS corpus_tokens
           |      FROM documents GROUP BY source),
           |p AS (SELECT source, corpus_tokens,
           |        CAST(w.w * 10000000 // sw.sumw AS BIGINT) AS target_tokens
           |      FROM t JOIN w ON t.source = w.src CROSS JOIN sw)
           |SELECT source, corpus_tokens, target_tokens,
           |  CAST(target_tokens * 1000000 // corpus_tokens AS BIGINT) AS epochs_ppm,
           |  CAST((target_tokens + corpus_tokens - 1) // corpus_tokens AS BIGINT)
           |    AS whole_epochs
           |FROM p ORDER BY source""".stripMargin))

  /** Packing-efficiency forecast ([[Mixing.packingEfficiency]]): per
    * source × candidate context length, sequence count and padding waste
    * under head-to-tail packing — one corpus scan, candidate lengths
    * expanded from the aggregated row. Exact integer oracle.
    */
  val packingEfficiencyQ = OpQ("llm_packing_efficiency",
    (s, d) => Mixing.packingEfficiency(docs(s, d), Seq(512L, 1024L, 2048L))
      .orderBy(col("source"), col("context_len")),
    Some("""WITH t AS (
           |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           |    AS total_tokens
           |  FROM documents GROUP BY source),
           |l AS (SELECT UNNEST([512, 1024, 2048]) AS context_len)
           |SELECT source, total_tokens, CAST(context_len AS BIGINT) AS context_len,
           |  CAST((total_tokens + context_len - 1) // context_len AS BIGINT)
           |    AS n_sequences,
           |  CAST(((total_tokens + context_len - 1) // context_len) * context_len
           |    - total_tokens AS BIGINT) AS padding_tokens
           |FROM t CROSS JOIN l
           |ORDER BY source, context_len""".stripMargin))

  /** Near-duplicate cross-split leakage ([[Mixing.splitLeakageNearDup]]):
    * trigram-Jaccard pairs above threshold whose endpoints straddle the
    * split boundary — the eval-inflating leakage exact-dup checks miss.
    * Pair discovery is the lossless prefix-filtered join, so the DuckDB
    * oracle replays the brute-force pair set + the permutation split and
    * must agree bit-exactly (doubles included — both engines divide the
    * same exact integers). doc_id < 1000 keeps the bench lean, matching
    * `llm_dedup_jaccard_prefix`.
    */
  val splitLeakageNearDupQ = OpQ("llm_split_leakage_neardup",
    (s, d) => Mixing.splitLeakageNearDup(
        docs(s, d).filter(col("doc_id") < 1000),
        trainPpm = 700000L, valPpm = 150000L, thresholdPpm = 500000L)
      .orderBy(col("split_a"), col("split_b")),
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w
           |               FROM documents WHERE doc_id < 1000),
           |sh AS MATERIALIZED (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           |       FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
           |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
           |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |            CAST(COUNT(*) AS BIGINT) AS common
           |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |          GROUP BY a.doc_id, b.doc_id),
           |qual AS (SELECT a_id, b_id,
           |           CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard
           |         FROM pairs JOIN cnt ca ON ca.doc_id = a_id
           |                    JOIN cnt cb ON cb.doc_id = b_id
           |         WHERE common * 1000000 >= 500000 * (ca.n + cb.n - common)),
           |sp AS (SELECT doc_id,
           |         CASE WHEN (doc_id * 2654435761) % 4294967311 % 1000000 < 700000
           |                THEN 'train'
           |              WHEN (doc_id * 2654435761) % 4294967311 % 1000000 < 850000
           |                THEN 'validation'
           |              ELSE 'test' END AS split
           |       FROM documents WHERE doc_id < 1000),
           |rk AS (SELECT doc_id, split,
           |         CASE split WHEN 'train' THEN 0 WHEN 'validation' THEN 1
           |              ELSE 2 END AS r FROM sp),
           |x AS (SELECT CASE WHEN pa.r < pb.r THEN pa.split ELSE pb.split END AS split_a,
           |             CASE WHEN pa.r < pb.r THEN pb.split ELSE pa.split END AS split_b,
           |             jaccard
           |      FROM qual JOIN rk pa ON pa.doc_id = a_id
           |                JOIN rk pb ON pb.doc_id = b_id
           |      WHERE pa.split <> pb.split)
           |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS leaked_pairs,
           |  MAX(jaccard) AS max_jaccard
           |FROM x GROUP BY split_a, split_b ORDER BY split_a, split_b""".stripMargin))

  /** BPE merge APPLICATION ([[TextAnalysis.bpeEncode]]): tokenizer-aware
    * token counts under the canonical fixed merge list
    * ([[TextAnalysis.DefaultBpeMerges]]) — the encode-side complement of
    * [[TextAnalysis.bpePairCounts]], closing the loop from merge
    * candidates to token-budget planning. The oracle replays the
    * IDENTICAL boundary-wrapped replace chain in DuckDB — both SQL texts
    * are generated from the same Scala merge list, so the chains cannot
    * drift — and literal `replace` is left-to-right non-overlapping in
    * both engines, making the greedy merge semantics bit-exact.
    */
  val bpeEncodeQ = OpQ("llm_bpe_encode",
    (s, d) => TextAnalysis.bpeEncode(docs(s, d)).orderBy(col("doc_id")),
    Some(bpeEncodeOracle))

  /** DuckDB replay of [[TextAnalysis.bpeEncode]]'s merge chain, generated
    * from the same [[TextAnalysis.DefaultBpeMerges]] list (RE2 spelling:
    * `\1` backreference + explicit 'g' flag; Spark side uses `$1` with
    * global-by-default — same rewrite).
    */
  private def bpeEncodeOracle: String = {
    val sep = "\u001F"
    val base = s"regexp_replace(w, '${TextAnalysis.AnyCharCapture}', '$sep\\1$sep', 'g')"
    val chain = TextAnalysis.DefaultBpeMerges.foldLeft(base) {
      case (acc, (x, y)) =>
        s"replace($acc, '$sep$x$sep$sep$y$sep', '$sep$x$y$sep')"
    }
    s"""WITH enc AS (
       |  SELECT doc_id,
       |    string_split_regex(lower(coalesce(text, '')), '${TextAnalysis.WsSplitRegex}') AS ws
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(list_filter(ws, w -> length(w) >= 1)) AS BIGINT) AS n_words,
       |  CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS n_chars,
       |  CAST(coalesce(list_sum(list_transform(
       |    list_transform(ws, w -> $chain),
       |    s -> (length(s) - length(replace(s, '$sep', ''))) // 2)), 0) AS BIGINT) AS n_tokens_bpe
       |FROM enc ORDER BY doc_id""".stripMargin
  }

  /** BPE vocabulary induction ([[TextAnalysis.bpeLearnMerges]], 8
    * rounds): the full learning loop, run declaratively — each round's
    * winning pair is a 1-row argmax frame joined back as columns, never
    * a collect. The oracle replays the identical loop as staged DuckDB
    * CTEs (pair explode → top-1 → scalar-subquery replace), generated
    * from the same round count, so the learned merge sequence and its
    * exact weighted counts hash bit-for-bit.
    */
  val bpeLearnQ = OpQ("llm_bpe_learn",
    (s, d) => TextAnalysis.bpeLearnMerges(docs(s, d), rounds = 8),
    Some(bpeLearnOracle(8)))

  /** DuckDB replay of [[TextAnalysis.bpeLearnMerges]]: s0 is the
    * boundary-wrapped word-frequency table; per round r, `p_r` explodes
    * adjacent symbol pairs weighted by word count, `t_r` takes the
    * arg-max pair (ties lexicographic), and `s_r` applies the merge via
    * scalar subqueries on `t_r` — a data-dependent replace, exactly the
    * Spark side's broadcast-joined pair columns. An exhausted round
    * yields an empty `t_r` (NULL subqueries null out `s_r`, producing
    * no further pairs), matching the Spark side's empty-frame cross
    * join: both engines simply stop emitting rows.
    *
    * Every stage CTE is `AS MATERIALIZED`: each `s_r` is referenced
    * twice (by `p_{r+1}` and `s_{r+1}`) and each `t_r` three times, so
    * DuckDB's default re-inlining of unmaterialized CTEs doubles the
    * work per round — exponential in `rounds` (measured >450 s on the
    * 500-doc sf0.01 fixture vs 0.43 s materialized, bit-identical
    * rows). Materialization pins linear-in-rounds oracle cost.
    */
  /** The learn loop's WITH-stages (everything between `WITH` and the
    * final SELECT) — shared verbatim by [[bpeLearnOracle]] and the
    * learn-then-encode pipeline oracle so the two replays cannot drift.
    */
  private def bpeLearnCtes(rounds: Int): String = {
    val q = "\u001F"
    val stages = (1 to rounds).map { r =>
      val prev = if (r == 1) "s0" else s"s${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT x, y, CAST(SUM(wc) AS BIGINT) AS n FROM (
         |    SELECT wc, sy[i] AS x, sy[i + 1] AS y
         |    FROM (SELECT wc, string_split(trim(s, '$q'), '$q$q') AS sy FROM $prev),
         |         UNNEST(range(1, len(sy))) t(i))
         |  GROUP BY x, y),
         |t$r AS MATERIALIZED (SELECT $r AS round, x, y, n FROM p$r ORDER BY n DESC, x, y LIMIT 1),
         |s$r AS MATERIALIZED (SELECT wc, replace(s,
         |  (SELECT '$q' || x || '$q$q' || y || '$q' FROM t$r),
         |  (SELECT '$q' || x || y || '$q' FROM t$r)) AS s FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""w AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest(string_split_regex(lower(coalesce(text, '')), '${TextAnalysis.WsSplitRegex}')) AS word
       |    FROM documents)
       |  WHERE length(word) >= 2 GROUP BY word),
       |s0 AS MATERIALIZED (SELECT wc, regexp_replace(word, '${TextAnalysis.AnyCharCapture}', '$q\\1$q', 'g') AS s FROM w),
       |$stages""".stripMargin
  }

  private def bpeLearnOracle(rounds: Int): String = {
    val union = (1 to rounds).map(r => s"SELECT * FROM t$r").mkString(" UNION ALL ")
    s"""WITH ${bpeLearnCtes(rounds)}
       |SELECT CAST(round AS BIGINT) AS round, x, y, x || y AS merged, n
       |FROM ($union) ORDER BY round""".stripMargin
  }

  /** DuckDB replay of [[TextAnalysis.bpeEncodeLearned]]: the SAME learn
    * stages as [[bpeLearnOracle]] (shared via [[bpeLearnCtes]]), then
    * per-round encode stages `e_r` applying each learned merge to the
    * per-document word-symbol streams via scalar subqueries on `t_r` —
    * the declarative twin of the Spark side's broadcast array fold. An
    * exhausted round has an empty `t_r`; `coalesce(…, chr(30))` turns
    * its NULL search pattern into a never-matching sentinel so document
    * rows survive unmodified (chr(30) cannot appear in a word-symbol
    * stream built from this corpus's whitespace-split text). Documents
    * with no length≥1 words re-enter via a LEFT JOIN with zero counts,
    * mirroring the Spark side's per-row expressions that never drop a
    * doc. Every stage is MATERIALIZED (each referenced by the next +
    * the final aggregate — see the cost lint).
    */
  private def bpePipelineOracle(rounds: Int): String = {
    val q = "\u001F"
    val encodeStages = (1 to rounds).map { r =>
      val prev = if (r == 1) "e0" else s"e${r - 1}"
      s"""e$r AS MATERIALIZED (SELECT doc_id, replace(s,
         |  coalesce((SELECT '$q' || x || '$q$q' || y || '$q' FROM t$r), chr(30)),
         |  coalesce((SELECT '$q' || x || y || '$q' FROM t$r), '')) AS s FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeLearnCtes(rounds)},
       |e0 AS MATERIALIZED (
       |  SELECT doc_id, regexp_replace(word, '${TextAnalysis.AnyCharCapture}', '$q\\1$q', 'g') AS s FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(coalesce(text, '')), '${TextAnalysis.WsSplitRegex}')) AS word
       |    FROM documents)
       |  WHERE length(word) >= 1),
       |$encodeStages,
       |agg AS MATERIALIZED (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(SUM((length(s) - length(replace(s, '$q', ''))) // 2) AS BIGINT) AS n_tokens_bpe
       |  FROM e$rounds GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(a.n_tokens_bpe, 0) AS BIGINT) AS n_tokens_bpe
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** BPE learn-then-encode pipeline ([[TextAnalysis.bpeEncodeLearned]]):
    * the closed tokenizer loop — 8 merges induced from the corpus, then
    * the corpus tokenized with them, all declaratively (the learned
    * merge table rides a 1-row broadcast array, never a collect).
    */
  val bpePipelineQ = OpQ("llm_bpe_pipeline",
    (s, d) => TextAnalysis.bpeEncodeLearned(docs(s, d), rounds = 8)
      .orderBy(col("doc_id")),
    Some(bpePipelineOracle(8)))

  /** BPE merge-candidate counting ([[TextAnalysis.bpePairCounts]]): the
    * top-50 adjacent character pairs weighted by word frequency — the
    * statistic one iteration of byte-pair-encoding vocabulary induction
    * maximizes. The oracle replays the word-frequency collapse and the
    * pair explode in DuckDB list arithmetic.
    */
  val bpePairs = OpQ("llm_bpe_pairs",
    (s, d) => TextAnalysis.bpePairCounts(docs(s, d), k = 50),
    Some(s"""WITH w AS (
           |  SELECT unnest(string_split_regex(lower(text), '${TextAnalysis.WsSplitRegex}')) AS word
           |  FROM documents),
           |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS wc
           |  FROM w WHERE length(word) >= 2 GROUP BY word),
           |p AS (SELECT wc,
           |    unnest(list_transform(range(1, length(word)),
           |                          i -> substr(word, CAST(i AS INT), 2))) AS pair
           |  FROM wc)
           |SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
           |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin))

  /** Weight-proportional sampling ([[Mixing.weightedSample]]): longer
    * documents keep with higher probability (w = min(n_chars·2000,
    * 800000) ppm) — the quality/length-weighted corpus thinning step,
    * still one exact-integer per-row predicate with no shuffle.
    */
  val sampleWeighted = OpQ("llm_sample_weighted",
    (s, d) => Mixing.weightedSample(docs(s, d),
      least(col("n_chars") * 2000L, lit(800000L)))
      .select(col("doc_id"), col("n_chars"), col("source"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, n_chars, source FROM documents
           |WHERE (doc_id * 2654435761) % 4294967311 % 1000000
           |      < LEAST(n_chars * 2000, 800000)
           |ORDER BY doc_id""".stripMargin))

  /** URL canonicalization dedup ([[Dedup.urlDedup]]): synthetic dirty
    * URLs (scheme/case/www/trailing-slash/utm/fragment variants built
    * deterministically from doc_id so the oracle can rebuild them)
    * collapse to canonical groups; real query params (`?page=2`)
    * survive. The oracle replicates the exact normalization chain —
    * every pattern anchored/single-match so RE2-first-match (DuckDB)
    * and Java-all-match (Spark) semantics coincide.
    */
  val dedupUrl = OpQ("llm_dedup_url",
    (s, d) => {
      val withUrl = docs(s, d).select(col("doc_id")).withColumn("url", concat(
        when(col("doc_id") % 2 === 0, lit("http://")).otherwise(lit("https://")),
        when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Site"), (col("doc_id") % 50).cast("string"),
        lit(".Example.com/p/"), (col("doc_id") % 200).cast("string"),
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("?utm_source=feed&utm_id=3"))
          .otherwise(when(col("doc_id") % 7 === 0, lit("?page=2")).otherwise(lit(""))),
        when(col("doc_id") % 11 === 0, lit("#frag")).otherwise(lit(""))))
      Dedup.urlDedup(withUrl, "url").orderBy(col("canonical_url"))
    },
    Some("""WITH u AS (SELECT doc_id,
           |  (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END) ||
           |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
           |  'Site' || CAST(doc_id % 50 AS VARCHAR) || '.Example.com/p/' ||
           |  CAST(doc_id % 200 AS VARCHAR) ||
           |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
           |  (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&utm_id=3'
           |        WHEN doc_id % 7 = 0 THEN '?page=2' ELSE '' END) ||
           |  (CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS url
           |  FROM documents),
           |c AS (SELECT doc_id,
           |  regexp_replace(
           |    regexp_replace(
           |      regexp_replace(
           |        regexp_replace(
           |          regexp_replace(
           |            regexp_replace(lower(url), '^http://', 'https://'),
           |            '^https://www\.', 'https://'),
           |          '#.*$', ''),
           |        '[?&]utm_[^&#]*(&utm_[^&#]*)*$', ''),
           |      '/\?', '?'),
           |    '/$', '') AS canonical_url
           |  FROM u)
           |SELECT canonical_url, MIN(doc_id) AS keep_doc_id,
           |  COUNT(*) AS n_urls
           |FROM c GROUP BY 1 ORDER BY canonical_url""".stripMargin))

  /** Weighted domain mixing ([[Mixing.mixDomains]]): per-source quotas from
    * integer target weights (here w = suffix%4 + 1 derived from the source
    * name so the oracle can rebuild the same weight table), exact BIGINT
    * quota arithmetic, lowest-permutation rows win.
    */
  val mixDomains = OpQ("llm_mix_domains",
    (s, d) => {
      val weights = docs(s, d).select(col("source")).distinct()
        .select(col("source"),
          (substring(col("source"), 4, 10).cast("long") % 4 + 1).as("w"))
      Mixing.mixDomains(docs(s, d), weights)
        .select(col("doc_id"), col("source"))
        .orderBy(col("source"), col("doc_id"))
    },
    Some("""WITH wt AS (
           |  SELECT source, (CAST(substr(source, 4) AS BIGINT) % 4) + 1 AS w
           |  FROM (SELECT DISTINCT source FROM documents)),
           |cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
           |j AS (SELECT c.source, c.n, w.w FROM cnt c JOIN wt w USING (source) WHERE w.w > 0),
           |tot AS (SELECT SUM(w) AS sumw FROM j),
           |tt AS (SELECT MIN(j.n * tot.sumw // j.w) AS t FROM j, tot),
           |q AS (SELECT j.source, j.w * tt.t // tot.sumw AS m FROM j, tot, tt),
           |r AS (SELECT doc_id, source,
           |        ROW_NUMBER() OVER (PARTITION BY source
           |          ORDER BY (doc_id * 2654435761) % 4294967311, doc_id) AS rn
           |      FROM documents)
           |SELECT r.doc_id, r.source FROM r JOIN q USING (source)
           |WHERE r.rn <= q.m ORDER BY source, doc_id""".stripMargin))

  /** Greedy sequence packing ([[Mixing.packSequences]]): 64-token context
    * windows, shard-local (per source) head-to-tail layout. Offsets and
    * sequence ids are exact integer window arithmetic → full oracle.
    */
  val packSequences = OpQ("llm_pack_sequences",
    (s, d) => Mixing.packSequences(docs(s, d), contextLen = 64)
      .orderBy(col("source"), col("doc_id")),
    // DuckDB SUM(BIGINT) widens to HUGEINT (pandas renders it float64 →
    // driver hash mismatch vs Spark's int64); cast cum back to BIGINT.
    Some("""SELECT source, doc_id, n_tokens,
           |  cum - n_tokens AS start_offset,
           |  (cum - n_tokens) // 64 AS seq_id,
           |  (cum - n_tokens) % 64 AS seq_pos,
           |  (cum - 1) // 64 AS end_seq_id
           |FROM (
           |  SELECT source, doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
           |      PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |  FROM documents) t
           |ORDER BY source, doc_id""".stripMargin))

  /** Token-budget domain mixing ([[Mixing.mixDomainsByTokens]]): 20k-token
    * budget split across sources by the same derived weights as
    * `llm_mix_domains`; greedy inclusive-prefix keep in permutation order.
    * All-BIGINT quota/cumsum arithmetic (DuckDB window SUM widened to
    * HUGEINT is cast back — see `llm_pack_sequences`).
    */
  val mixTokenBudget = OpQ("llm_mix_token_budget",
    (s, d) => {
      val weights = docs(s, d).select(col("source")).distinct()
        .select(col("source"),
          (substring(col("source"), 4, 10).cast("long") % 4 + 1).as("w"))
      Mixing.mixDomainsByTokens(docs(s, d), weights, budgetTokens = 20000L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("source"), col("doc_id"))
    },
    Some("""WITH wt AS (
           |  SELECT source, (CAST(substr(source, 4) AS BIGINT) % 4) + 1 AS w
           |  FROM (SELECT DISTINCT source FROM documents)),
           |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM wt),
           |q AS (SELECT source, CAST(w * 20000 AS BIGINT) // sumw AS m FROM wt, tot),
           |r AS (SELECT doc_id, source,
           |        CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
           |          PARTITION BY source
           |          ORDER BY (doc_id * 2654435761) % 4294967311, doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |      FROM documents)
           |SELECT r.doc_id, r.source FROM r JOIN q USING (source)
           |WHERE r.cum <= q.m ORDER BY source, doc_id""".stripMargin))

  /** Deterministic global shuffle + sharding ([[Mixing.shuffleShard]]):
    * 8 shards, position by permutation rank within shard — byte-identical
    * layout on any engine or cluster size.
    */
  val shuffleShard = OpQ("llm_shuffle_shard",
    (s, d) => Mixing.shuffleShard(docs(s, d), numShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos")),
    Some("""SELECT doc_id,
           |  (doc_id * 2654435761) % 4294967311 % 8 AS shard,
           |  ROW_NUMBER() OVER (
           |    PARTITION BY (doc_id * 2654435761) % 4294967311 % 8
           |    ORDER BY (doc_id * 2654435761) % 4294967311, doc_id) AS pos
           |FROM documents ORDER BY shard, pos""".stripMargin))

  /** C4-style paragraph dedup ([[Dedup.paragraphDedup]]): fragments between
    * occurrences of " the " act as paragraphs (the synthetic corpus has no
    * newlines; any literal delimiter works), keep the globally first
    * occurrence, reassemble. df_sum rides along so the oracle checks the
    * df accounting too (DuckDB SUM widens to HUGEINT → cast back).
    */
  val dedupParagraph = OpQ("llm_dedup_paragraph",
    (s, d) => Dedup.paragraphDedup(docs(s, d), delim = " the ")
      .orderBy(col("doc_id")),
    Some("""WITH wr AS (SELECT doc_id, string_split(text, ' the ') AS w FROM documents),
           |p AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_total, idx, w[idx] AS para
           |      FROM (SELECT doc_id, w, UNNEST(range(1, len(w) + 1)) AS idx FROM wr) t),
           |f AS (SELECT doc_id, n_total, idx, para,
           |        ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn,
           |        COUNT(*) OVER (PARTITION BY para) AS df
           |      FROM p)
           |SELECT doc_id,
           |  string_agg(para, ' the ' ORDER BY idx) AS text_dedup,
           |  COUNT(*) AS n_kept,
           |  MIN(n_total) AS n_total,
           |  CAST(SUM(df) AS BIGINT) AS df_sum
           |FROM f WHERE rn = 1
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Near-dup decontamination ([[Dedup.decontaminateNearDupPairs]]): the
    * benchmark set is the 40-token prefix of every 97th document (a
    * benchmark question extracted from a training page — so the planted
    * contamination is IN the train corpus), train = the whole corpus;
    * exact bipartite n-gram Jaccard at threshold 0.3 (measured: planted
    * pairs score ≥ 0.39, cross-doc background ≤ 0.035 at sf0.01).
    */
  val decontaminateNearDup = OpQ("llm_decontaminate_neardup",
    (s, d) => {
      val all = docs(s, d)
      val bench = all.filter(pmod(col("doc_id"), lit(97L)) === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))
      Dedup.decontaminateNearDupPairs(
          all.select(col("doc_id"), col("text")), bench, threshold = 0.3)
        .orderBy(col("train_id"), col("bench_id"))
    },
    Some("""WITH bench AS MATERIALIZED (
           |  SELECT doc_id,
           |    array_to_string(list_slice(string_split(text, ' '), 1, 40), ' ') AS text
           |  FROM documents WHERE doc_id % 97 = 0),
           |train AS MATERIALIZED (SELECT doc_id, text FROM documents),
           |ts AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train) t,
           |            UNNEST(range(1, len(w) - 1)) AS u(i) WHERE len(w) >= 3
           |       UNION
           |       SELECT doc_id, text AS s FROM train
           |       WHERE len(string_split(text, ' ')) < 3),
           |bs AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM bench) t,
           |            UNNEST(range(1, len(w) - 1)) AS u(i) WHERE len(w) >= 3
           |       UNION
           |       SELECT doc_id, text AS s FROM bench
           |       WHERE len(string_split(text, ' ')) < 3),
           |tc AS (SELECT doc_id, COUNT(*) AS n FROM ts GROUP BY doc_id),
           |bc AS (SELECT doc_id, COUNT(*) AS n FROM bs GROUP BY doc_id),
           |pairs AS (SELECT ts.doc_id AS train_id, bs.doc_id AS bench_id,
           |            COUNT(*) AS common
           |          FROM ts JOIN bs ON ts.s = bs.s GROUP BY 1, 2)
           |SELECT train_id, bench_id,
           |  CAST(common AS DOUBLE) / (tc.n + bc.n - common) AS jaccard
           |FROM pairs JOIN tc ON tc.doc_id = train_id JOIN bc ON bc.doc_id = bench_id
           |WHERE CAST(common AS DOUBLE) / (tc.n + bc.n - common) >= 0.3
           |ORDER BY train_id, bench_id""".stripMargin))

  /** Log-free TF-IDF keywords ([[TextAnalysis.tfidfTopTerms]]): top-3 terms
    * per doc by tf·10⁶ div df (integer weight — ln/exp are banned from
    * oracles by the bit-exactness rules), ties by term.
    */
  val textKeywords = OpQ("llm_text_keywords",
    (s, d) => TextAnalysis.tfidfTopTerms(docs(s, d), k = 3)
      .orderBy(col("doc_id"), col("rank")),
    Some("""WITH tf AS (
           |  SELECT doc_id, term, COUNT(*) AS tf
           |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
           |        FROM documents) t
           |  GROUP BY doc_id, term),
           |idf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
           |r AS (SELECT tf.doc_id, tf.term, tf.tf, idf.df,
           |        tf.tf * 1000000 // idf.df AS weight
           |      FROM tf JOIN idf USING (term)),
           |s AS (SELECT *, ROW_NUMBER() OVER (
           |        PARTITION BY doc_id ORDER BY weight DESC, term) AS rank FROM r)
           |SELECT doc_id, rank, term, tf, df, weight FROM s
           |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin))

  /** BM25 full-text ranking ([[TextAnalysis.bm25Rank]]): top-10 documents
    * for a 3-term query. Every score input is an exact integer and the
    * double arithmetic is a fixed IEEE tree evaluated identically by both
    * engines (per-term FLOOR to BIGINT before the per-doc sum makes the
    * only reordering-sensitive step associative) — so the ranking oracles
    * hash-exact, scores included.
    */
  val textBm25 = OpQ("llm_text_bm25",
    (s, d) => TextAnalysis.bm25Rank(docs(s, d),
      Seq("spark", "vector", "stream"), k = 10),
    Some("""WITH lens AS (
           |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           |  FROM documents),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           |               CAST(SUM(dl) AS BIGINT) AS a_tokens FROM lens),
           |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           |       FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
           |             FROM documents) t
           |       WHERE term IN ('spark', 'vector', 'stream')
           |       GROUP BY doc_id, term),
           |dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
           |sc AS (SELECT tf.doc_id,
           |         CAST(FLOOR(CAST(1000000 AS DOUBLE) *
           |           ((CAST(2*(n_docs - df) + 1 AS DOUBLE) / CAST(2*df + 1 AS DOUBLE)) *
           |            ((CAST(22 AS DOUBLE)*tf*a_tokens) /
           |             (CAST(10 AS DOUBLE)*tf*a_tokens + CAST(3 AS DOUBLE)*a_tokens +
           |              CAST(9 AS DOUBLE)*dl*n_docs)))) AS BIGINT) AS score_term
           |       FROM tf JOIN dfx USING (term) JOIN lens USING (doc_id), tot)
           |SELECT doc_id, CAST(SUM(score_term) AS BIGINT) AS score,
           |  COUNT(*) AS n_terms_hit
           |FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin))

  /** Sliding-window span dedup ([[Dedup.spanDedup]], window=4): per-doc
    * duplicated-span counts against global first occurrence. Raw-string
    * span keys so every count oracles exactly (the 100 TB path hashes the
    * keys — same plan shape, gated by DedupSpec equivalence).
    */
  val dedupSpan = OpQ("llm_dedup_span",
    (s, d) => Dedup.spanDedup(docs(s, d), window = 4)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |wins AS (
           |  SELECT doc_id, UNNEST(CASE WHEN len(w) >= 4
           |    THEN list_transform(range(1, len(w) - 2),
           |                        i -> array_to_string(list_slice(w, i, i + 3), ' '))
           |    ELSE [array_to_string(w, ' ')] END) AS span
           |  FROM toks),
           |firsts AS (SELECT span, MIN(doc_id) AS first_doc FROM wins GROUP BY span),
           |per AS (
           |  SELECT w.doc_id, COUNT(*) AS n_windows,
           |    CAST(SUM(CASE WHEN f.first_doc < w.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_dup_windows
           |  FROM wins w JOIN firsts f USING (span) GROUP BY w.doc_id)
           |SELECT doc_id, n_windows, n_dup_windows,
           |  n_dup_windows > 0 AS is_span_dup,
           |  n_dup_windows * 1000000 // n_windows AS dup_frac_ppm
           |FROM per ORDER BY doc_id""".stripMargin))

  /** Binary-file ingestion ([[graft.Sources.binaryFiles]]): the staged PNG
    * store laid out as INDIVIDUAL .png objects (the object-storage shape),
    * listed with a glob, doc ids parsed from paths, dimensions parsed from
    * IHDR bytes by pure column expressions — no pixel decode. Oracle-able
    * because the fixture dims are exact functions of doc_id (w = 8+id%16,
    * h = 8+id%11).
    */
  val multimodalBinaryFiles = OpQ("llm_multimodal_binary_files",
    (s, d) => {
      val sf = new java.io.File(d).getName
      val dir = s"/tmp/graft_stage/png_files_$sf"
      if (!new java.io.File(s"$dir/.staged").exists()) {
        new java.io.File(dir).mkdirs()
        stagedBlobs(s, d, "png").select(col("doc_id"), col("blob"))
          .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            it.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(s"$dir/${r.getLong(0)}.png"),
                r.getAs[Array[Byte]](1))
            }
          }
        java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$dir/.staged"))
      }
      Multimodal.pngHeaderMeta(
          graft.Sources.binaryFiles(s, dir, "*.png")
            .select(regexp_extract(col("path"), "([0-9]+)\\.png$", 1)
              .cast("long").as("doc_id"),
              col("content").as("blob")))
        .select(col("doc_id"), col("width"), col("height"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, 8 + doc_id % 16 AS width, 8 + doc_id % 11 AS height
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Image resize ([[Multimodal.resizeImagesPartitioned]]): 16×16
    * nearest-neighbor thumbnails of the staged PNG store, reported as
    * deterministic position-weighted pixel checksums. The oracle is
    * EXACT despite the real ImageIO decode in the loop — the same
    * trick as `llm_multimodal_phash`: the synthetic PNG round-trips
    * losslessly and pixel (x, y) of doc `id` is the integer
    * `(id·2654435761 + x·31 + y) mod 2²⁴`, so DuckDB replays the
    * nearest-neighbor sampler (src = dst·srcDim // 16) and the
    * position-weighted sum arithmetically over `range(0, 256)`
    * (i = y·16 + x, weight = i + 1). A hash mismatch would mean the
    * decode, the sampler, or the checksum fold diverged from spec.
    * Single-machine-reference gates additionally live in MultimodalSpec.
    */
  val multimodalResize = OpQ("llm_multimodal_resize",
    (s, d) => Multimodal.resizeImagesPartitioned(s, stagedBlobs(s, d, "png"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  CAST(8 + doc_id % 16 AS INTEGER) AS src_width,
           |  CAST(8 + doc_id % 11 AS INTEGER) AS src_height,
           |  CAST(16 AS INTEGER) AS out_width,
           |  CAST(16 AS INTEGER) AS out_height,
           |  CAST(list_sum(list_transform(range(0, 256), i ->
           |    ((doc_id * 2654435761 + ((i % 16) * (8 + doc_id % 16) // 16) * 31
           |      + ((i // 16) * (8 + doc_id % 11) // 16)) % 16777216) * (i + 1)
           |  )) AS BIGINT) AS pixel_checksum
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Keep-best dedup ([[Dedup.keepBestDedup]]): the batch is each document
    * plus a 20-token truncation of it under a new id; clustering on the
    * 10-token prefix fingerprint groups each original with its truncation,
    * and keep-best must retain the LONGER original (min-id policies would
    * keep whichever id sorted first).
    */
  val dedupKeepBest = OpQ("llm_dedup_keep_best",
    (s, d) => {
      val all = docs(s, d).select(col("doc_id"), col("text"))
      val truncated = all.select((col("doc_id") + 500000).as("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 20), " ").as("text"))
      val batch = all.unionByName(truncated)
      Dedup.keepBestDedup(batch,
          md5(array_join(slice(split(col("text"), " "), 1, 10), " ")))
        .select(col("doc_id"), col("keep_id"), col("n_cluster"), col("is_dup"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH batch AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 500000,
           |    array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ')
           |  FROM documents),
           |keyed AS (
           |  SELECT doc_id, text,
           |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')) AS ck
           |  FROM batch),
           |best AS (
           |  SELECT doc_id, ck,
           |    COUNT(*) OVER (PARTITION BY ck) AS n_cluster,
           |    MAX_BY(doc_id, length(text) * 10000000 - doc_id) OVER (PARTITION BY ck)
           |      AS keep_id
           |  FROM keyed)
           |SELECT doc_id, keep_id, n_cluster, doc_id <> keep_id AS is_dup
           |FROM best ORDER BY doc_id""".stripMargin))

  /** Vocabulary + OOV rate ([[TextAnalysis.vocabOov]], top-30 vocabulary):
    * per-doc out-of-vocabulary ppm against the corpus-frequency
    * vocabulary. Corpus has ~35 distinct tokens, so a 30-token vocabulary
    * leaves real OOV mass to measure.
    */
  val vocabOovQ = OpQ("llm_vocab_oov",
    (s, d) => TextAnalysis.vocabOov(docs(s, d), vocabSize = 30)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
           |              FROM documents),
           |vocab AS (SELECT term, TRUE AS in_vocab FROM (
           |  SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
           |  ORDER BY cnt DESC, term LIMIT 30))
           |SELECT doc_id, COUNT(*) AS n_tokens,
           |  CAST(SUM(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           |  CAST(SUM(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    * 1000000 // COUNT(*) AS oov_ppm
           |FROM toks LEFT JOIN vocab USING (term)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Incremental cross-snapshot dedup ([[Dedup.incrementalDedup]]): the
    * whole documents table is the existing corpus; the incoming batch is
    * constructed with all three outcomes planted — exact copies of corpus
    * docs (`%7==0`, flagged dup_of_corpus), genuinely fresh texts
    * (`%7==1`, kept), and a pair of identical new texts (`%7==2`, first
    * kept / second flagged dup_in_batch).
    */
  /** The incremental-dedup fixture batch: exact corpus copies (dup of
    * corpus), genuinely fresh docs, and a within-batch duplicated pair —
    * shared by the exact-join and bloom-prefiltered gates, whose outputs
    * must be bit-identical.
    */
  private def incrementalBatch(all: DataFrame): DataFrame = {
    val copies = all.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val fresh = all.filter(col("doc_id") % 7 === 1)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" fresh "), col("doc_id")).as("text"))
    val pairA = all.filter(col("doc_id") % 7 === 2)
      .select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" batchdup")).as("text"))
    val pairB = all.filter(col("doc_id") % 7 === 2)
      .select((col("doc_id") + 400000).as("doc_id"),
        concat(col("text"), lit(" batchdup")).as("text"))
    copies.unionByName(fresh).unionByName(pairA).unionByName(pairB)
  }

  val dedupIncremental = OpQ("llm_dedup_incremental",
    (s, d) => {
      val all = docs(s, d)
      Dedup.incrementalDedup(all, incrementalBatch(all))
        .select(col("doc_id"), col("h"), col("dup_in_batch"),
          col("dup_of_corpus"), col("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH batch AS (
           |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
           |  UNION ALL
           |  SELECT doc_id + 200000, text || ' fresh ' || doc_id
           |  FROM documents WHERE doc_id % 7 = 1
           |  UNION ALL
           |  SELECT doc_id + 300000, text || ' batchdup' FROM documents WHERE doc_id % 7 = 2
           |  UNION ALL
           |  SELECT doc_id + 400000, text || ' batchdup' FROM documents WHERE doc_id % 7 = 2),
           |hashed AS (SELECT doc_id, md5(text) AS h FROM batch),
           |marked AS (
           |  SELECT doc_id, h,
           |    doc_id <> MIN(doc_id) OVER (PARTITION BY h) AS dup_in_batch,
           |    h IN (SELECT md5(text) FROM documents) AS dup_of_corpus
           |  FROM hashed)
           |SELECT doc_id, h, dup_in_batch, dup_of_corpus,
           |  NOT dup_in_batch AND NOT dup_of_corpus AS keep
           |FROM marked ORDER BY doc_id""".stripMargin))

  /** Bloom-prefiltered incremental dedup ([[Dedup.incrementalDedupBloom]]):
    * the 100 TB probe tier — a bloom built over the BATCH digests
    * prefilters the corpus digest scan map-side, so only the suspected
    * fraction of corpus digests shuffles into the exact confirm
    * semi-join, and the confirm join eliminates bloom false positives,
    * so the output (and therefore the DuckDB oracle) is BIT-IDENTICAL to
    * [[dedupIncremental]]'s. What this gate pins is that the bloom tier
    * never changes answers — only shuffle volume.
    */
  val dedupIncrementalBloom = OpQ("llm_dedup_incremental_bloom",
    (s, d) => {
      val all = docs(s, d)
      // expectedItems sized to the BATCH digest count (the 4M default
      // would build a ~4 MB blob for a ~3k-row fixture batch — the
      // tuning knob callers set)
      Dedup.incrementalDedupBloom(all, incrementalBatch(all),
          expectedItems = 100000L)
        .select(col("doc_id"), col("h"), col("dup_in_batch"),
          col("dup_of_corpus"), col("keep"))
        .orderBy(col("doc_id"))
    },
    dedupIncremental.oracle)

  /** Span-dedup rewrite ([[Dedup.spanDedupRewrite]], window=4): duplicated
    * spans REMOVED from later documents, survivors reassembled in order —
    * token counts and rewritten text both hash-exact.
    */
  val dedupSpanRewrite = OpQ("llm_dedup_span_rewrite",
    (s, d) => Dedup.spanDedupRewrite(docs(s, d), window = 4)
      .orderBy(col("doc_id")),
    Some("""WITH b AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |toks AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
           |         FROM b, UNNEST(range(1, len(w) + 1)) t(i)),
           |wins AS (SELECT doc_id, i - 1 AS wpos,
           |           array_to_string(list_slice(w, i, i + 3), ' ') AS span
           |         FROM b, UNNEST(range(1, len(w) - 2)) t(i) WHERE len(w) >= 4),
           |firsts AS (SELECT span, MIN(doc_id) AS fd FROM wins GROUP BY span),
           |dup AS (SELECT w.doc_id, w.wpos FROM wins w JOIN firsts f USING (span)
           |        WHERE f.fd < w.doc_id),
           |cov AS (SELECT DISTINCT doc_id, wpos + k AS pos
           |        FROM dup, UNNEST(range(0, 4)) t(k)),
           |kept AS (
           |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           |    string_agg(t.tok, ' ' ORDER BY t.pos) AS text_dedup
           |  FROM toks t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
           |  GROUP BY t.doc_id)
           |SELECT b.doc_id, CAST(len(b.w) AS BIGINT) AS n_total,
           |  COALESCE(n_kept, 0) AS n_kept,
           |  COALESCE(text_dedup, '') AS text_dedup
           |FROM b LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin))

  /** CCNet-style normalization ([[TextAnalysis.normalizeText]]). The corpus
    * is pure ASCII, so the query decorates each doc with mixed-case
    * punctuation AND a decomposed accent sequence ("CAFE" + combining
    * acute U+0301) — NFC must compose it to "café" on both engines
    * (JDK Normalizer vs DuckDB utf8proc) for the hash to match, so the
    * non-trivial normalization path is what's actually gated.
    */
  val textNormalize: OpQ = {
    // combining acute in a single-quoted string (the \uXXXX lexer escape
    // is deprecated inside triple quotes); interpolated into both texts
    val dec = " CAFE\u0301!!  ,,Mix-Case??"
    OpQ("llm_text_normalize",
      (s, d) => TextAnalysis.normalizeText(
          docs(s, d).withColumn("text", concat(col("text"), lit(dec))))
        .select(col("doc_id"), col("norm_text"), col("norm_tokens"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  trim(regexp_replace(regexp_replace(
              |    lower(nfc_normalize(text || '$dec')),
              |    '[^\\p{L}\\p{N}\\s]+', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text,
              |  CAST(len(string_split(trim(regexp_replace(regexp_replace(
              |    lower(nfc_normalize(text || '$dec')),
              |    '[^\\p{L}\\p{N}\\s]+', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS BIGINT)
              |    AS norm_tokens
              |FROM documents ORDER BY doc_id""".stripMargin))
  }

  /** spark.ml MinHashLSH near-dup pairs, driver-gated through the EXACT
    * side of the problem: the output rows are the exact trigram-Jaccard
    * ≥ 0.7 pair set ([[Dedup.prefixFilteredJaccardPairs]] — lossless
    * prefix filtering, DuckDB replays the full intersection arithmetic),
    * each row carrying two booleans about the MLlib run the oracle
    * expects TRUE: `recall_ok` — MinHashLSH surfaced ≥ 90% of the exact
    * pairs (the MlLshSpec tier, now hash-gated), and `precision_ok` —
    * every pair MLlib reported has raw trigram Jaccard ≥ 0.65 (0.05
    * slack absorbs HashingTF feature-collision quantization; MLlib's
    * `approxSimilarityJoin` verifies candidates on the hashed sets, so
    * a real false positive would mean the hashed and raw set Jaccards
    * diverged). The seeded hash family itself isn't DuckDB-expressible;
    * everything the driver hashes here is. `doc_id < 1000` bounds the
    * bench-scale cost on this uniform-vocabulary corpus for the same
    * reason as `llm_dedup_jaccard_prefix` (at sf0.01 the corpus has 500
    * docs, so the correctness gate sees the full table).
    */
  val dedupMinHashMl = OpQ("llm_dedup_minhash_ml",
    (s, d) => {
      val corpus = docs(s, d).filter(col("doc_id") < 1000)
      // both pair frames feed multiple gate branches — materializing them
      // computes the MLlib join and the prefix-filtered verify once
      val found = materialize(MlLsh.minHashPairsMl(corpus, maxJaccardDistance = 0.3)
        .select(col("a_id"), col("b_id")))
      val truePairs = materialize(
        Dedup.prefixFilteredJaccardPairs(corpus, thresholdPpm = 700000L))
      val nTrue = truePairs.agg(count(lit(1)).as("n_true"))
      val nHit = truePairs.join(found, Seq("a_id", "b_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      val sets = Dedup.withShingles(corpus)
        .select(col("doc_id"), expr("array_distinct(transform(shingles, x -> xxhash64(x)))").as("hs"))
      val prec = found
        .join(sets.select(col("doc_id").as("a_id"), col("hs").as("sa")), "a_id")
        .join(sets.select(col("doc_id").as("b_id"), col("hs").as("sb")), "b_id")
        .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .agg(coalesce(bool_and(
          col("common") * 1000000L >=
            lit(650000L) * (size(col("sa")) + size(col("sb")) - col("common"))),
          lit(true)).as("precision_ok"))
      truePairs
        .crossJoin(broadcast(nTrue)).crossJoin(broadcast(nHit))
        .crossJoin(broadcast(prec))
        .select(col("a_id"), col("b_id"), col("common"), col("na"), col("nb"),
          col("jaccard"),
          (col("n_hit") * 10L >= col("n_true") * 9L).as("recall_ok"),
          col("precision_ok"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w
           |               FROM documents WHERE doc_id < 1000),
           |sh AS MATERIALIZED (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           |       FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
           |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
           |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |            CAST(COUNT(*) AS BIGINT) AS common
           |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |          GROUP BY a.doc_id, b.doc_id)
           |SELECT a_id, b_id, common, ca.n AS na, cb.n AS nb,
           |  CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard,
           |  TRUE AS recall_ok, TRUE AS precision_ok
           |FROM pairs JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id
           |WHERE common * 1000000 >= 700000 * (ca.n + cb.n - common)
           |ORDER BY a_id, b_id""".stripMargin))

  /** spark.ml BucketedRandomProjectionLSH embedding pairs, driver-gated
    * the same way as `llm_dedup_minhash_ml`: the rows are the exact
    * near-pair set under the quantized squared distance
    * `sq_m = ‖a‖²ₘ + ‖b‖²ₘ − 2·(a·b)ₘ` (each term a floor-scaled integer
    * sum — [[graft.functions.ScaledDotMicros]], order-invariant, DuckDB
    * replays it exactly) at the 1.15² · 10⁶ threshold, plus two
    * oracle-expects-TRUE booleans about the MLlib run: `recall_ok`
    * (≥ 90% of exact pairs surfaced — the MlLshSpec tier) and
    * `precision_ok` (every reported pair within the threshold + 2·dims
    * floor-error envelope; MLlib filters on the un-quantized double
    * distance, so 128 µunits of slack is the exact worst-case gap).
    * The seeded projection family stays non-expressible; the hashed
    * content the driver sees is fully exact. Scale note: the N²/2 exact
    * pair join is the correctness GATE (corpus-bounded, like
    * `llm_ann_bruteforce_topk`), not the product path — at 100 TB the
    * operator under test (BRP LSH bucketed join) runs alone and the
    * exact tier runs on samples.
    */
  val embeddingPairsMl = OpQ("llm_embedding_pairs_ml",
    (s, d) => {
      val thrM = 1322500L // floor(1.15^2 * 1e6)
      // both small frames feed three gate branches each — materializing
      // them computes the MLlib LSH join and the N²/2 exact
      // join ONCE instead of per-branch (the same contract as
      // minHashDedup's shingle persist)
      val found = materialize(MlLsh.embeddingPairsMl(emb(s, d), maxL2 = 1.15)
        .select(col("a_id"), col("b_id")))
      // norms once per VECTOR (N scaled dots), only the cross-dot per PAIR
      // (N²/2) — same integer tree either way, 3× fewer hot-loop dots
      val e = emb(s, d).select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("vd"))
        .withColumn("norm_m",
          graft.functions.ScaledDotMicros.scaled_dot_micros(col("vd"), col("vd")))
      def sqJoin(pairs: DataFrame): DataFrame = pairs
        .join(e.select(col("vec_id").as("a_id"), col("vd").as("a_vd"),
          col("norm_m").as("a_norm")), "a_id")
        .join(e.select(col("vec_id").as("b_id"), col("vd").as("b_vd"),
          col("norm_m").as("b_norm")), "b_id")
        .withColumn("sq_m",
          col("a_norm") + col("b_norm") -
            lit(2L) * graft.functions.ScaledDotMicros.scaled_dot_micros(col("a_vd"), col("b_vd")))
        .select(pairs.columns.toIndexedSeq.map(col) :+ col("sq_m"): _*)
      val truePairs = materialize(sqJoin(
          e.select(col("vec_id").as("a_id"))
            .join(e.select(col("vec_id").as("b_id")), col("a_id") < col("b_id")))
        .filter(col("sq_m") <= thrM))
      val nTrue = truePairs.agg(count(lit(1)).as("n_true"))
      val nHit = truePairs.join(found, Seq("a_id", "b_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      // precision pays |found| dots, never a second N² pass
      val prec = sqJoin(found)
        .agg(coalesce(bool_and(col("sq_m") <= thrM + 128L), lit(true))
          .as("precision_ok"))
      truePairs
        .crossJoin(broadcast(nTrue)).crossJoin(broadcast(nHit))
        .crossJoin(broadcast(prec))
        .select(col("a_id"), col("b_id"), col("sq_m"),
          (col("n_hit") * 10L >= col("n_true") * 9L).as("recall_ok"),
          col("precision_ok"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
           |dots AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |           CAST(SUM(CAST(FLOOR(a.x * a.x * 1000000) AS BIGINT)) +
           |             SUM(CAST(FLOOR(b.x * b.x * 1000000) AS BIGINT)) -
           |             2 * SUM(CAST(FLOOR(a.x * b.x * 1000000) AS BIGINT)) AS BIGINT) AS sq_m
           |         FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
           |         GROUP BY a.vec_id, b.vec_id)
           |SELECT a_id, b_id, sq_m, TRUE AS recall_ok, TRUE AS precision_ok
           |FROM dots WHERE sq_m <= 1322500
           |ORDER BY a_id, b_id""".stripMargin))

  /** Corpus-unigram-LM fluency ranking ([[TextAnalysis.unigramLmScore]]):
    * mean token frequency in parts-per-billion, exact integer math, the
    * no-external-model stand-in for a perplexity filter. The oracle
    * replays the identical count/total/DIV arithmetic.
    */
  val textLmScore = OpQ("llm_text_lm_score",
    (s, d) => TextAnalysis.unigramLmScore(docs(s, d))
      .orderBy(col("mean_freq_ppb").desc, col("doc_id")),
    Some("""WITH toks AS (
           |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
           |cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
           |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cnt),
           |per AS (
           |  SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(c) AS BIGINT) AS sum_c
           |  FROM toks JOIN cnt USING (tok) GROUP BY doc_id)
           |SELECT doc_id, n_tokens,
           |  CAST((sum_c * 1000000000) // (n_total * n_tokens) AS BIGINT)
           |    AS mean_freq_ppb
           |FROM per, tot
           |ORDER BY mean_freq_ppb DESC, doc_id""".stripMargin))

  /** Bigram-LM fluency ranking ([[TextAnalysis.bigramLmScore]]): mean
    * conditional bigram probability P(b|a) = C(a b)/C(a) in exact ppb
    * integer math — the n-gram LM filter tier above the unigram score.
    * The oracle zips two parallel UNNESTed list_transform projections
    * (DuckDB zips equal-length UNNESTs positionally) and replays the
    * identical count/DIV arithmetic.
    */
  val textLmBigram = OpQ("llm_text_lm_bigram",
    (s, d) => TextAnalysis.bigramLmScore(docs(s, d))
      .orderBy(col("mean_cond_ppb").desc, col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |g2 AS (
           |  SELECT doc_id,
           |    UNNEST(list_transform(range(1, len(w)), i -> w[i])) AS tok_a,
           |    UNNEST(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS gram
           |  FROM toks),
           |cg AS (SELECT gram, COUNT(*) AS c_gram FROM g2 GROUP BY gram),
           |ct AS (SELECT tok_a, COUNT(*) AS c_tok FROM
           |        (SELECT UNNEST(string_split(text, ' ')) AS tok_a FROM documents)
           |       GROUP BY tok_a),
           |per AS (
           |  SELECT doc_id, COUNT(*) AS n_bigrams,
           |    SUM((c_gram * 1000000000) // c_tok) AS sum_ppb
           |  FROM g2 JOIN cg USING (gram) JOIN ct USING (tok_a)
           |  GROUP BY doc_id)
           |SELECT d.doc_id,
           |  CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           |  CAST(COALESCE(sum_ppb // n_bigrams, 0) AS BIGINT) AS mean_cond_ppb
           |FROM documents d LEFT JOIN per USING (doc_id)
           |ORDER BY mean_cond_ppb DESC, doc_id""".stripMargin))

  /** Corpus top bigrams ([[TextAnalysis.topNgrams]]) — boilerplate
    * census; the DuckDB oracle builds the same adjacent-token grams with
    * `list_transform(range(...))` over 1-indexed lists.
    */
  val ngramFreq = OpQ("llm_ngram_freq",
    (s, d) => TextAnalysis.topNgrams(docs(s, d), n = 2, k = 50),
    Some("""WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
           |grams AS (SELECT UNNEST(list_transform(range(1, len(w)),
           |  i -> w[i] || ' ' || w[i + 1])) AS gram FROM toks)
           |SELECT gram, COUNT(*) AS n FROM grams
           |GROUP BY gram ORDER BY n DESC, gram LIMIT 50""".stripMargin))

  /** Perceptual-hash image dedup ([[Multimodal.dhashPartitioned]]): 500
    * docs share 50 distinct synthetic PNGs (blob key = doc_id mod 50), so
    * exact-dHash grouping finds ~10-way duplicate clusters. The oracle is
    * EXACT despite the real ImageIO decode in the loop: the synthetic
    * PNG round-trips losslessly and its pixels are an integer function of
    * the image key, so DuckDB replays sampler + luminance + bit-packing
    * arithmetically (bit 63 via its literal two's-complement value —
    * DuckDB raises on `1<<63`).
    */
  val multimodalPhash = OpQ("llm_multimodal_phash",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ds = docs(s, d).select(col("doc_id"), (col("doc_id") % 50).as("img_key"))
      val blobs = stagedBlobs(s, d, "png").filter(col("doc_id") < 50)
        .withColumnRenamed("doc_id", "img_key")
      val withBlob = ds.join(broadcast(blobs), "img_key")
        .select(col("doc_id"), col("blob"))
      val w = Window.partitionBy(col("phash"))
      Multimodal.dhashPartitioned(s, withBlob)
        .withColumn("keep_id", min(col("doc_id")).over(w))
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("phash"), col("keep_id"),
          (col("doc_id") =!= col("keep_id")).as("is_dup"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH dims AS (
           |  SELECT doc_id, doc_id % 50 AS key,
           |    CAST(8 + (doc_id % 50) % 16 AS BIGINT) AS w,
           |    CAST(8 + (doc_id % 50) % 11 AS BIGINT) AS h
           |  FROM documents),
           |bits AS (
           |  SELECT doc_id, key, w, h, b, b % 8 AS x, b // 8 AS y
           |  FROM dims, UNNEST(range(0, 64)) t(b)),
           |pix AS (
           |  SELECT doc_id, w, h, b,
           |    (key * 2654435761 + (x * w // 9) * 31 + (y * h // 8)) % 16777216 AS pl,
           |    (key * 2654435761 + ((x + 1) * w // 9) * 31 + (y * h // 8)) % 16777216 AS pr
           |  FROM bits),
           |lum AS (
           |  SELECT doc_id, w, h, b,
           |    ((pl // 65536) * 299 + ((pl // 256) % 256) * 587 + (pl % 256) * 114) // 1000 AS ll,
           |    ((pr // 65536) * 299 + ((pr // 256) % 256) * 587 + (pr % 256) * 114) // 1000 AS lr
           |  FROM pix),
           |ph AS (
           |  SELECT doc_id, MIN(w) AS width, MIN(h) AS height,
           |    CAST(bit_or(CASE WHEN ll < lr THEN
           |      CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
           |           ELSE (CAST(1 AS BIGINT) << b) END
           |      ELSE 0 END) AS BIGINT) AS phash
           |  FROM lum GROUP BY doc_id)
           |SELECT doc_id, width, height, phash,
           |  MIN(doc_id) OVER (PARTITION BY phash) AS keep_id,
           |  doc_id <> MIN(doc_id) OVER (PARTITION BY phash) AS is_dup
           |FROM ph ORDER BY doc_id""".stripMargin))

  /** SemDeDup semantic dedup ([[Similarity.semanticDedup]]): within-cell
    * pairwise cosine, keep-lowest-id. τ=0.4 sits inside the fixture's
    * within-cell cosine range (max ≈0.47) so both flag branches are
    * exercised; the oracle replays the quantized dot / √norm·√norm
    * threshold test on the identical IEEE tree.
    */
  val dedupSemantic = OpQ("llm_dedup_semantic",
    (s, d) => Similarity.semanticDedup(emb(s, d), threshold = 0.4)
      .orderBy(col("vec_id")),
    Some("""WITH e AS MATERIALIZED (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
           |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
           |n AS (SELECT vec_id, SUM(CAST(FLOOR(x * x * 1000000) AS BIGINT)) AS norm_m
           |      FROM e GROUP BY vec_id),
           |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |        SUM(CAST(FLOOR(a.x * b.x * 1000000) AS BIGINT)) AS dot_m
           |      FROM e a JOIN e b ON a.i = b.i AND a.label = b.label
           |                       AND a.vec_id < b.vec_id
           |      GROUP BY 1, 2),
           |d AS (SELECT DISTINCT p.b_id AS drop_id
           |      FROM p JOIN n na ON na.vec_id = p.a_id
           |             JOIN n nb ON nb.vec_id = p.b_id
           |      WHERE CAST(dot_m AS DOUBLE) >=
           |        CAST(0.4 AS DOUBLE) * SQRT(CAST(na.norm_m AS DOUBLE))
           |          * SQRT(CAST(nb.norm_m AS DOUBLE)))
           |SELECT vec_id, label AS cell,
           |  vec_id IN (SELECT drop_id FROM d) AS is_dup
           |FROM embeddings ORDER BY vec_id""".stripMargin))

  /** Temperature-scaled (α=1/2) domain allocation
    * ([[Mixing.temperatureMix]]): √n weights in exact micro-int
    * arithmetic, budget split by integer division, capped at n.
    */
  val mixTemperature = OpQ("llm_mix_temperature",
    (s, d) => Mixing.temperatureMix(docs(s, d), budgetDocs = 200)
      .orderBy(col("source")),
    Some("""WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
           |w AS (SELECT source, n_docs,
           |        CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))
           |          * CAST(1000000 AS DOUBLE)) AS BIGINT) AS w_m
           |      FROM c),
           |t AS (SELECT CAST(SUM(w_m) AS BIGINT) AS sumw FROM w)
           |SELECT source, n_docs, w_m,
           |  LEAST((200 * w_m) // sumw, n_docs) AS allocation
           |FROM w, t ORDER BY source""".stripMargin))

  /** Winnowing substring-overlap pairs ([[Dedup.winnowedOverlapPairs]],
    * SIGMOD'03): char-level k=8 Horner-hash grams, w=4 window minima,
    * df-capped fingerprints (≤64 docs — boilerplate spans carry no
    * overlap signal and are the Σdf² blowup), pairs ranked by shared
    * fingerprints. The oracle replays the identical integer pipeline
    * with DuckDB list lambdas (list_reduce Horner starts at the first
    * element — equal to the 0-seeded fold) including the df cap.
    */
  val dedupWinnow = OpQ("llm_dedup_winnow",
    (s, d) => Dedup.winnowedOverlapPairs(docs(s, d)),
    Some("""WITH d AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE length(text) >= 11),
           |h AS MATERIALIZED (SELECT doc_id,
           |        list_transform(range(1, length(text) - 6),
           |          i -> list_reduce(list_transform(range(0, 8),
           |                 j -> CAST(ord(substr(text, CAST(i + j AS INT), 1)) AS BIGINT)),
           |               (acc, x) -> acc * 31 + x)) AS hs
           |      FROM d),
           |wnd AS MATERIALIZED (SELECT doc_id,
           |          list_distinct(list_transform(range(1, len(hs) - 2),
           |            j -> list_min(list_slice(hs, j, j + 3)))) AS fps
           |        FROM h),
           |f0 AS MATERIALIZED (SELECT doc_id, UNNEST(fps) AS fp FROM wnd),
           |rare AS (SELECT fp FROM f0 GROUP BY fp HAVING COUNT(*) <= 64),
           |f AS (SELECT f0.doc_id, f0.fp FROM f0 JOIN rare USING (fp))
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
           |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |GROUP BY 1, 2 ORDER BY n_shared DESC, a_id, b_id LIMIT 50""".stripMargin))

  /** DSIR importance weights ([[Mixing.dsirWeights]]): every document
    * scored by target-vs-raw unigram distribution ratio in exact fixed
    * point; target slice = English documents. Bit-exact oracle (pure
    * integer arithmetic end to end).
    */
  val dsirWeightsQ = OpQ("llm_dsir_weights",
    (s, d) => Mixing.dsirWeights(docs(s, d), col("lang") === "en"),
    Some("""WITH tok AS (SELECT doc_id, lang = 'en' AS is_t,
           |              UNNEST(string_split(text, ' ')) AS t FROM documents),
           |cnt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS raw_c,
           |          CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tgt_c
           |        FROM tok GROUP BY t),
           |tot AS (SELECT CAST(SUM(raw_c) AS BIGINT) AS raw_total,
           |               CAST(SUM(tgt_c) AS BIGINT) AS tgt_total FROM cnt),
           |ppm AS (SELECT t,
           |          CAST((CAST(1000000 AS HUGEINT) * (tgt_c + 1) * raw_total)
           |            // (CAST(raw_c + 1 AS HUGEINT) * tgt_total) AS BIGINT) AS p
           |        FROM cnt, tot),
           |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |         CAST(SUM(p) AS BIGINT) AS score_ppm
           |       FROM tok JOIN ppm USING (t) GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(n_tokens, 0) AS n_tokens,
           |  COALESCE(score_ppm, 0) AS score_ppm
           |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
           |ORDER BY d.doc_id""".stripMargin))

  /** Hybrid retrieval via reciprocal-rank fusion ([[TextAnalysis.rrfFuse]]):
    * BM25 lexical top-50 fused with embedding-cosine top-50 (ppb fixed point) (query =
    * vector 0; `vec_id` is positionally aligned with `doc_id` in the
    * generated corpus). Both legs and the fusion are exact fixed-point —
    * hash-exact oracle including fused ranks.
    */
  val retrievalRrf = OpQ("llm_retrieval_rrf",
    (s, d) => {
      val bm = TextAnalysis.bm25Rank(docs(s, d),
          Seq("spark", "vector", "stream"), k = 50)
        .select(lit(0L).as("query_id"), col("doc_id"), col("score"))
      val cos = Similarity.bruteForceTopK(emb(s, d), k = 50, queryMaxId = 1)
        .select(col("a_id").cast("long").as("query_id"),
          col("b_id").as("doc_id"), col("cosine").as("score"))
      TextAnalysis.rrfFuse(bm, cos, k = 20)
    },
    Some("""WITH lens AS (
           |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           |  FROM documents),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           |               CAST(SUM(dl) AS BIGINT) AS a_tokens FROM lens),
           |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           |       FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
           |             FROM documents) t
           |       WHERE term IN ('spark', 'vector', 'stream')
           |       GROUP BY doc_id, term),
           |dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
           |sc AS (SELECT tf.doc_id,
           |         CAST(FLOOR(CAST(1000000 AS DOUBLE) *
           |           ((CAST(2*(n_docs - df) + 1 AS DOUBLE) / CAST(2*df + 1 AS DOUBLE)) *
           |            ((CAST(22 AS DOUBLE)*tf*a_tokens) /
           |             (CAST(10 AS DOUBLE)*tf*a_tokens + CAST(3 AS DOUBLE)*a_tokens +
           |              CAST(9 AS DOUBLE)*dl*n_docs)))) AS BIGINT) AS score_term
           |       FROM tf JOIN dfx USING (term) JOIN lens USING (doc_id), tot),
           |bm AS (SELECT doc_id, CAST(SUM(score_term) AS BIGINT) AS score
           |       FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
           |bmr AS (SELECT doc_id,
           |          CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           |            AS rank_a FROM bm),
           |e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           |      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
           |q AS (SELECT * FROM e WHERE vec_id < 1),
           |dots AS (SELECT c.vec_id AS doc_id,
           |           SUM(CAST(FLOOR(q.x * c.x * 1000000) AS BIGINT)) AS dot_m,
           |           SUM(CAST(FLOOR(q.x * q.x * 1000000) AS BIGINT)) AS qq_m,
           |           SUM(CAST(FLOOR(c.x * c.x * 1000000) AS BIGINT)) AS cc_m
           |         FROM q JOIN e c ON q.i = c.i AND q.vec_id <> c.vec_id
           |         GROUP BY c.vec_id),
           |cr AS (SELECT doc_id,
           |         CAST(row_number() OVER (ORDER BY
           |           CAST(dot_m AS DOUBLE) /
           |             (SQRT(CAST(qq_m AS DOUBLE)) * SQRT(CAST(cc_m AS DOUBLE)))
           |           DESC, doc_id) AS BIGINT) AS rank_b
           |       FROM dots QUALIFY rank_b <= 50),
           |f AS (SELECT COALESCE(bmr.doc_id, cr.doc_id) AS doc_id,
           |        bmr.rank_a, cr.rank_b,
           |        COALESCE(1000000000 // (60 + bmr.rank_a), 0)
           |          + COALESCE(1000000000 // (60 + cr.rank_b), 0) AS rrf_ppb
           |      FROM bmr FULL OUTER JOIN cr ON bmr.doc_id = cr.doc_id)
           |SELECT CAST(0 AS BIGINT) AS query_id, doc_id, rank_a, rank_b,
           |  CAST(rrf_ppb AS BIGINT) AS rrf_ppb,
           |  CAST(row_number() OVER (ORDER BY rrf_ppb DESC, doc_id) AS BIGINT)
           |    AS fused_rank
           |FROM f QUALIFY fused_rank <= 20 ORDER BY fused_rank""".stripMargin))

  /** Dedup threshold sensitivity sweep ([[Dedup.thresholdSweep]]): one
    * exact pair list at 0.5, five thresholds replayed as integer
    * predicates over it. Same doc_id < 1000 scope as the other exact
    * pair gates.
    */
  val dedupThresholdSweepQ = OpQ("llm_dedup_threshold_sweep",
    (s, d) => Dedup.thresholdSweep(docs(s, d).filter(col("doc_id") < 1000),
      Seq(500000L, 600000L, 700000L, 800000L, 900000L)),
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w
           |               FROM documents WHERE doc_id < 1000),
           |sh AS MATERIALIZED (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
           |       FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
           |cnt AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
           |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |        CAST(COUNT(*) AS BIGINT) AS common
           |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2),
           |pr AS (SELECT a_id, b_id, common, ca.n AS na, cb.n AS nb
           |       FROM p JOIN cnt ca ON ca.doc_id = a_id
           |              JOIN cnt cb ON cb.doc_id = b_id),
           |ts AS (SELECT UNNEST([500000, 600000, 700000, 800000, 900000])
           |         AS threshold_ppm),
           |q AS (SELECT t.threshold_ppm, pr.a_id, pr.b_id FROM pr, ts t
           |      WHERE pr.common * 1000000 >= t.threshold_ppm * (pr.na + pr.nb - pr.common)),
           |pa AS (SELECT threshold_ppm, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |         CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_removed_greedy
           |       FROM q GROUP BY 1),
           |da AS (SELECT threshold_ppm,
           |         CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs_touched
           |       FROM (SELECT threshold_ppm, a_id AS d FROM q
           |             UNION ALL SELECT threshold_ppm, b_id FROM q)
           |       GROUP BY 1)
           |SELECT CAST(ts.threshold_ppm AS BIGINT) AS threshold_ppm,
           |  COALESCE(n_pairs, 0) AS n_pairs,
           |  COALESCE(n_docs_touched, 0) AS n_docs_touched,
           |  COALESCE(n_removed_greedy, 0) AS n_removed_greedy
           |FROM ts LEFT JOIN pa USING (threshold_ppm)
           |        LEFT JOIN da USING (threshold_ppm)
           |ORDER BY threshold_ppm""".stripMargin))

  /** Per-source corpus data card ([[TextAnalysis.corpusDataCard]]):
    * volume, language mix, and exact duplicate rate in integer ppm —
    * the report published with every crawl snapshot. The gate corpus
    * appends a deterministic duplicated slice (every 10th doc) so the
    * dup-rate path is non-vacuous. Bit-exact oracle (md5 and integer
    * division agree across engines).
    */
  val corpusDataCardQ = OpQ("llm_corpus_datacard",
    (s, d) => TextAnalysis.corpusDataCard(
      docs(s, d).unionAll(docs(s, d).filter(col("doc_id") % 10 === 0))),
    Some("""WITH d AS (
           |  SELECT * FROM documents
           |  UNION ALL SELECT * FROM documents WHERE doc_id % 10 = 0),
           |pt AS (
           |  SELECT source, md5(text) AS fp,
           |    CAST(COUNT(*) AS BIGINT) AS n_docs_fp,
           |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_fp,
           |    CAST(SUM(length(text)) AS BIGINT) AS ch_fp,
           |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_fp
           |  FROM d GROUP BY source, md5(text))
           |SELECT source,
           |  CAST(SUM(n_docs_fp) AS BIGINT) AS n_docs,
           |  CAST(SUM(tok_fp) AS BIGINT) AS n_tokens,
           |  CAST(SUM(ch_fp) AS BIGINT) AS n_chars,
           |  CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
           |  CAST(1000000 * SUM(en_fp) // SUM(n_docs_fp) AS BIGINT) AS en_ppm,
           |  CAST(1000000 * (SUM(n_docs_fp) - COUNT(*)) // SUM(n_docs_fp) AS BIGINT)
           |    AS dup_ppm
           |FROM pt GROUP BY source ORDER BY source""".stripMargin))

  /** Quality-filter funnel ([[TextAnalysis.filterFunnel]]): per-rule
    * independent fail counts + cumulative stack survivors from one
    * conditional-aggregation pass. Bit-exact oracle (integer predicates,
    * cross-multiplied ratios).
    */
  val filterFunnelQ = OpQ("llm_filter_funnel",
    (s, d) => TextAnalysis.filterFunnel(docs(s, d)),
    Some("""WITH pr AS MATERIALIZED (
           |  SELECT n_tok, length(text) - n_tok + 1 AS n_ch,
           |    CAST(len(list_filter(string_split(text, ' '),
           |      t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop,
           |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dis
           |  FROM (SELECT coalesce(text, '') AS text,
           |          CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tok
           |        FROM documents)),
           |r AS MATERIALIZED (SELECT n_tok BETWEEN 45 AND 500 AS r1,
           |        n_ch BETWEEN 4 * n_tok AND 6 * n_tok AS r2,
           |        n_stop >= 2 AS r3, 10 * n_dis >= 3 * n_tok AS r4 FROM pr),
           |a AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           |        CAST(count_if(NOT r1) AS BIGINT) AS f1,
           |        CAST(count_if(NOT r2) AS BIGINT) AS f2,
           |        CAST(count_if(NOT r3) AS BIGINT) AS f3,
           |        CAST(count_if(NOT r4) AS BIGINT) AS f4,
           |        CAST(count_if(r1) AS BIGINT) AS s1,
           |        CAST(count_if(r1 AND r2) AS BIGINT) AS s2,
           |        CAST(count_if(r1 AND r2 AND r3) AS BIGINT) AS s3,
           |        CAST(count_if(r1 AND r2 AND r3 AND r4) AS BIGINT) AS s4
           |      FROM r)
           |SELECT CAST(1 AS BIGINT) AS rule_ord, 'token_count_45_500' AS rule,
           |  f1 AS n_fail, s1 AS n_survive_cum, n_docs FROM a
           |UNION ALL SELECT 2, 'chars_per_token_4_6', f2, s2, n_docs FROM a
           |UNION ALL SELECT 3, 'min_stopword_hits_2', f3, s3, n_docs FROM a
           |UNION ALL SELECT 4, 'distinct_ratio_30pct', f4, s4, n_docs FROM a
           |ORDER BY rule_ord""".stripMargin))

  /** Curriculum schedule plan ([[Mixing.curriculumPlan]]): exact integer
    * difficulty (length + repetition in ppm), fixed-threshold bands (a
    * pure per-row map + one counted groupBy — no per-source sort), per
    * (source, band) volume. Full DuckDB oracle — the score is integer
    * arithmetic both engines floor identically.
    */
  val curriculumPlanQ = OpQ("llm_curriculum_plan",
    (s, d) => Mixing.curriculumPlan(docs(s, d), bands = 4),
    Some("""SELECT source, least(difficulty_ppm // 250000, 3) AS band,
           |  COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens,
           |  MIN(difficulty_ppm) AS min_difficulty_ppm,
           |  MAX(difficulty_ppm) AS max_difficulty_ppm
           |FROM (
           |  SELECT source, n_tok,
           |    ((1000000 * least(n_tok, 512) // 512) +
           |     (1000000 - 1000000 * n_dis // n_tok)) // 2 AS difficulty_ppm
           |  FROM (
           |    SELECT source,
           |      len(string_split(coalesce(text, ''), ' '))::BIGINT AS n_tok,
           |      len(list_distinct(string_split(coalesce(text, ''), ' ')))::BIGINT AS n_dis
           |    FROM documents) r) sc
           |GROUP BY source, band
           |ORDER BY source, band""".stripMargin))

  /** Corpus concentration report ([[Mixing.corpusConcentration]]):
    * per-source token share, rank, cumulative share, and the HHI — all
    * integer ppm, windows only over the |sources|-row collapsed frame
    * (allowlisted in [[graft.PlanCheck.globalWindowAllowlist]]).
    */
  val corpusConcentrationQ = OpQ("llm_corpus_concentration",
    (s, d) => Mixing.corpusConcentration(docs(s, d)),
    Some("""WITH per_source AS (
           |  SELECT source, COUNT(*) AS n_docs,
           |    SUM(CASE WHEN text IS NULL THEN 0
           |             ELSE len(string_split(text, ' ')) END)::BIGINT AS n_tokens
           |  FROM documents GROUP BY source),
           |tot AS (SELECT SUM(n_tokens)::BIGINT AS total_tokens FROM per_source),
           |shared AS (
           |  SELECT s.*, (1000000 * n_tokens // total_tokens)::BIGINT AS share_ppm
           |  FROM per_source s, tot),
           |ranked AS (
           |  SELECT *,
           |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, source) AS BIGINT) AS rank,
           |    (SUM(share_ppm) OVER (ORDER BY n_tokens DESC, source
           |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_share_ppm
           |  FROM shared),
           |hhi AS (SELECT (SUM(share_ppm * share_ppm) // 1000000)::BIGINT AS hhi_ppm FROM shared)
           |SELECT source, n_docs, n_tokens, share_ppm, rank, cum_share_ppm, hhi_ppm
           |FROM ranked, hhi ORDER BY rank""".stripMargin))

  val all: Seq[OpQ] = Seq(
    curriculumPlanQ, corpusConcentrationQ,
    dsirWeightsQ, retrievalRrf, dedupThresholdSweepQ, corpusDataCardQ,
    filterFunnelQ,
    textLmScore, textLmBigram, ngramFreq, multimodalPhash, dedupSemantic, mixTemperature,
    dedupWinnow,
    dedupExact, dedupCrossSource, dedupMinHash, dedupSimHash, dedupNgramJaccard, dedupEmbedding,
    dedupJaccardPrefix, dedupClusterStatsQ, contaminationReportQ,
    dedupMinHashMl, embeddingPairsMl,
    textTopTokens, textTopTokensSketch, pipelineCurate, pipelineCurate2,
    annBruteForce, annIvf, annLsh, annSq8, annPq,
    textStats, textLangId, textQuality, textTokenize, textFingerprint, fingerprintRolling,
    textRedact, sampleStratified, sampleHash, sampleWeighted, dedupUrl,
    splitTrainVal, splitByContentQ, splitLeakageQ, splitLeakageNearDupQ,
    packingEfficiencyQ, epochPlanQ, bpePairs, bpeEncodeQ, bpeLearnQ, bpePipelineQ,
    tokenizerFertilityQ,
    mixDomains, packSequences,
    mixTokenBudget, shuffleShard, dedupParagraph, decontaminateNearDup,
    textKeywords, textBm25, textNormalize, dedupSpan, dedupSpanRewrite,
    dedupIncremental, dedupIncrementalBloom, vocabOovQ, dedupKeepBest,
    chunkDocs, decontaminate, textRepetition, textNovelty,
    multimodalDecode, multimodalPng, multimodalJpeg, multimodalWav,
    multimodalAudioResample, multimodalFrames,
    multimodalResize, multimodalBinaryFiles)
}
