package graft.llm

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, BucketedRandomProjectionLSH}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** spark.ml-backed LSH variants (SURVEY.md §7.3: "near dedup:
  * spark.ml MinHashLSH; similarity: BucketedRandomProjectionLSH") —
  * complementing the hand-rolled [[Dedup.minHashDedup]] /
  * [[Similarity.lshTopK]] with the MLlib estimator/transformer pipeline:
  * HashingTF shingle vectors → fitted LSH model → banded similarity join.
  * Seeded, so results are reproducible; candidate generation is MLlib's
  * banded join (same Σ bucket² bound as the custom path).
  *
  * r19 (optimization round, guide §2.3/§4.1): candidate generation and
  * verification no longer go through `model.approxSimilarityJoin`, whose
  * physical plan shuffles FULL row structs (the 64-double features vector
  * plus every hash vector, twice per candidate) through a `distinct()`
  * and then pays an interpreted `keyDistance` UDF per candidate over
  * boxed `Vector`s. [[leanSimilarityJoin]] executes the identical
  * algorithm — the model's own hash buckets for candidates, the model's
  * own distance definition for verification, the same strict
  * `< threshold` filter — but the candidate join moves only 16-byte id
  * rows, the distance runs as whole-stage-codegen column expressions
  * after re-attaching the (broadcast-sized) vector table, and the pair
  * dedup shuffles only the SURVIVORS of the distance filter.
  * `MlLshSpec` pins pair-set AND distance equality against
  * `approxSimilarityJoin` on the driver corpus, so this is a plan
  * change, not a semantics change.
  */
object MlLsh {

  /** Shingle-set vectors for LSH: sparse HashingTF (binary) over word
    * 3-gram shingles.
    */
  private def shingleVectors(docs: DataFrame, numFeatures: Int = 1 << 18): DataFrame = {
    val sh = Dedup.withShingles(docs).select(col("doc_id"), col("shingles"))
    new HashingTF()
      .setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(numFeatures).setBinary(true)
      .transform(sh)
  }

  /** Candidate `(a_id, b_id)` pairs (a_id < b_id, WITH multiplicity) from
    * a hashed LSH dataset — exactly `approxSimilarityJoin`'s candidate set:
    * two rows collide when ANY hash-table entry agrees. MLlib joins the
    * exploded tables on the length-1 hash VECTOR; joining on its single
    * unwrapped double is the same equality (IEEE bit-equal doubles, both
    * produced by the same hash function on the same input). Only
    * (id, entry, bucket) ever enters the exchange, and the pair dedup
    * shuffles 16-byte rows instead of full payload structs.
    */
  private def leanCandidates(hashed: DataFrame, idCol: String,
      inputRows: Long, numHashTables: Int): DataFrame = {
    val expl = hashed.select(col(idCol),
        posexplode(col("hashes")).as(Seq("entry", "hv")))
      .select(col(idCol),  col("entry"),
        org.apache.spark.ml.functions.vector_to_array(col("hv"))(0).as("bucket"))
    val parts = hashed.sparkSession.sessionState.conf.numShufflePartitions
    val a = expl.select(col(idCol).as("a_id"), col("entry"), col("bucket"))
    val b = expl.select(col(idCol).as("b_id"), col("entry"), col("bucket"))
    // NOTE: candidates are returned WITH multiplicity (a pair colliding
    // in several hash tables appears several times). Dedup moved to the
    // callers, AFTER their cheap codegen distance filter: shuffling the
    // raw candidate multiset for a distinct() costs a candidate-sized
    // exchange, while re-evaluating a distance on the ≤ numHashTables
    // duplicate occurrences is map-side-free — verification is then
    // entirely broadcast joins and the only pair shuffle is the
    // SURVIVORS' dropDuplicates (guide §2.3: shuffle fewer bytes; the
    // distance is deterministic per pair, so dedup order cannot change
    // the set).
    //
    // r20 (guide §3.1/§2.5; r19 verdict #1): the build side is the FULL
    // exploded hash-entry set — numHashTables × N rows, O(corpus). The
    // r19 shape broadcast it unconditionally, which is fast while it
    // fits but hard-fails (8 GB broadcast cap / driver OOM) on corpora
    // past the bench scale. Size-gate it on the EXACT exploded row
    // count (the caller counts its input once — one extra pass over the
    // input, a full one when the input is computed) by the session's
    // one broadcast rule (Tuning.broadcastRowCap): the exploded rows
    // times their estimated size at or under
    // spark.sql.autoBroadcastJoinThreshold, never when it is -1:
    //  - under the cap: broadcast build + round-robin spread of the
    //    probe side, so few-and-giant LSH buckets (BRP over clustered
    //    embeddings collapses to a handful) still emit their share of
    //    the per-bucket cross product from every task;
    //  - over the cap: salt-and-replicate shuffle join — the probe row
    //    gets a deterministic per-id salt, the build side is replicated
    //    across all salts, and the join keys on (entry, bucket, salt),
    //    so one giant bucket spreads over `saltCount` tasks instead of
    //    serializing one reducer. Build replication is linear (ids-only
    //    rows); the bucket cross product it spreads is quadratic.
    // Same pair multiset either way (each colliding (a,b,entry) meets on
    // exactly one salt); MlLshSpec pins both arms bit-exact against
    // model.approxSimilarityJoin.
    if (graft.ops.Tuning.broadcastRowCap(expl).exists(inputRows * numHashTables <= _)) {
      a.repartition(parts).join(broadcast(b), Seq("entry", "bucket"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
    } else {
      val saltCount = math.min(parts, 32)
      val aS = a.withColumn("__salt",
        pmod(xxhash64(col("a_id")), lit(saltCount.toLong)).cast("int"))
      val bS = b.withColumn("__salt",
        explode(sequence(lit(0), lit(saltCount - 1))))
      aS.join(bS, Seq("entry", "bucket", "__salt"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
    }
  }

  /** Near-duplicate pairs via spark.ml MinHashLSH banding.
    * `maxJaccardDistance` = 1 − jaccard threshold.
    *
    * Verification replays `MinHashLSHModel.keyDistance` — jaccard
    * distance `1 − |A∩B| / |A∪B|` over the ACTIVE-INDEX sets of the
    * binary HashingTF vectors — as the same double arithmetic
    * (`1.0 − i/u`, then the strict `< maxJaccardDistance` compare), with
    * the per-document index sets extracted once per document (2 N rows),
    * never per pair; the per-pair work is an integer array intersection
    * inside codegen. MlLshSpec pins set equality vs approxSimilarityJoin.
    */
  def minHashPairsMl(docs: DataFrame, maxJaccardDistance: Double = 0.3,
      numHashTables: Int = 4): DataFrame = {
    // one input count feeds the candidate-join size gate (a full pass
    // when `docs` is computed; small next to the join)
    val nDocs = docs.count()
    val vec = shingleVectors(docs)
    val model = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(42)
      .fit(vec)
    val hashed = model.transform(vec)
    // active-index sets: one tiny UDF call per DOCUMENT, broadcast back
    // onto the id-pair candidates. MLlib's keyDistance iterates NON-ZERO
    // entries, so explicitly stored zeros are dropped — with today's
    // HashingTF(binary=true) vectors no zero is ever stored and the
    // filter is a no-op, but it keeps the replay faithful if this helper
    // is ever reused with non-binary vectors (r19 advice).
    val idxOf = udf { (v: Vector) =>
      val sp = v.toSparse
      sp.indices.zip(sp.values).collect { case (i, x) if x != 0.0 => i }
    }
    val sets = hashed.select(col("doc_id"), idxOf(col("features")).as("idx"))
    val cand = leanCandidates(hashed, "doc_id", nDocs, numHashTables)
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("idx").as("a_idx")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("idx").as("b_idx")), "b_id")
      .withColumn("__common", size(array_intersect(col("a_idx"), col("b_idx"))))
      .withColumn("dist",
        lit(1.0) - col("__common").cast("double") /
          (size(col("a_idx")) + size(col("b_idx")) - col("__common")).cast("double"))
      .filter(col("dist") < maxJaccardDistance)
      .select(col("a_id"), col("b_id"), (lit(1.0) - col("dist")).as("jaccard_est"))
      .dropDuplicates("a_id", "b_id")
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Embedding near-neighbor pairs via BucketedRandomProjectionLSH
    * (euclidean buckets) — spark.ml's scale path for similarity join.
    *
    * Verification replays `BucketedRandomProjectionLSHModel.keyDistance`
    * — `sqrt(Vectors.sqdist(a, b))`, an ascending-index fold of
    * `(a_i − b_i)²` — via the bit-identical codegen expression
    * [[graft.functions.SqDistDouble]] over the same double arrays, then
    * the same strict `< maxL2` compare.
    */
  def embeddingPairsMl(embeddings: DataFrame, maxL2: Double,
      bucketLength: Double = 0.5, numHashTables: Int = 4): DataFrame = {
    // one input count feeds the candidate-join size gate (a full pass
    // when `embeddings` is computed)
    val nVecs = embeddings.count()
    // spark.ml ships this conversion (array_to_vector) — null-safe, no
    // hand-rolled closure UDF that would NPE on a NULL embedding row
    val arr = embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("vd"))
    val vec = arr.select(col("vec_id"),
      org.apache.spark.ml.functions.array_to_vector(col("vd")).as("features"))
    val model = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables).setSeed(42)
      .fit(vec)
    val cand = leanCandidates(model.transform(vec), "vec_id", nVecs, numHashTables)
    cand
      .join(arr.select(col("vec_id").as("a_id"), col("vd").as("a_vd")), "a_id")
      .join(arr.select(col("vec_id").as("b_id"), col("vd").as("b_vd")), "b_id")
      .withColumn("l2", sqrt(
        graft.functions.SqDistDouble.sq_dist_double(col("a_vd"), col("b_vd"))))
      .filter(col("l2") < maxL2)
      .select(col("a_id"), col("b_id"), col("l2"))
      .dropDuplicates("a_id", "b_id")
      .orderBy(col("a_id"), col("b_id"))
  }
}
