package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** spark.ml LSH variants against ground truth on the driver corpus. */
class MlLshSpec extends SparkSpec {

  test("MinHashLSH (spark.ml) recall at sf0.01 vs exact-Jaccard ground truth") {
    initLog()
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val truth = Dedup.ngramJaccardPairs(docs, topK = 100000)
      .filter(col("jaccard") >= 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ml = MlLsh.minHashPairsMl(docs, maxJaccardDistance = 0.3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 20, s"corpus should contain planted near-dups, got ${truth.size}")
    val recalled = truth.count(ml.contains)
    info(f"sf0.01: ml recall ${recalled.toDouble / truth.size}%.3f over ${truth.size} truth pairs")
    assert(recalled.toDouble / truth.size >= 0.9,
      s"ml minhash recall $recalled/${truth.size}")
  }

  test("MinHashLSH (spark.ml) recall at sf0.1 — bench scale", graft.SlowTest) {
    initLog()
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.1", "documents")
    val truth = Dedup.ngramJaccardPairs(docs, topK = 1000000)
      .filter(col("jaccard") >= 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ml = MlLsh.minHashPairsMl(docs, maxJaccardDistance = 0.3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 100, s"sf0.1 corpus should contain planted near-dups, got ${truth.size}")
    val recall = truth.count(ml.contains).toDouble / truth.size
    info(f"sf0.1: ml recall $recall%.3f over ${truth.size} truth pairs")
    assert(recall >= 0.9, f"ml minhash recall $recall%.3f at sf0.1")
  }

  test("lean BRP similarity join ≡ model.approxSimilarityJoin (pair set + distances)") {
    // r19 plan optimization: MlLsh verifies candidates with codegen
    // expressions instead of approxSimilarityJoin's payload-struct
    // distinct + interpreted keyDistance UDF. Same model, same buckets,
    // same distance definition — this pins the equivalence bit-exact.
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val arr = emb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("vd"))
    val vec = arr.select(col("vec_id"),
      org.apache.spark.ml.functions.array_to_vector(col("vd")).as("features"))
    val model = new org.apache.spark.ml.feature.BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(0.5).setNumHashTables(4).setSeed(42)
      .fit(vec)
    val reference = model.approxSimilarityJoin(vec, vec, 1.15, "l2")
      .select(col("datasetA.vec_id").as("a_id"), col("datasetB.vec_id").as("b_id"), col("l2"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lean = MlLsh.embeddingPairsMl(emb, maxL2 = 1.15)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lean.keySet == reference.keySet,
      s"pair sets differ: lean-only=${(lean.keySet -- reference.keySet).take(5)} " +
        s"ref-only=${(reference.keySet -- lean.keySet).take(5)}")
    assert(reference.nonEmpty)
    reference.foreach { case (k, d) =>
      assert(lean(k) == d, s"distance drift at $k: lean=${lean(k)} ref=$d") // bit-equal
    }
  }

  test("lean MinHash similarity join ≡ model.approxSimilarityJoin (pair set + distances)") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val sh = Dedup.withShingles(docs).select(col("doc_id"), col("shingles"))
    val vec = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
      .transform(sh)
    val model = new org.apache.spark.ml.feature.MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(4).setSeed(42)
      .fit(vec)
    val reference = model.approxSimilarityJoin(vec, vec, 0.3, "dist")
      .select(col("datasetA.doc_id").as("a_id"), col("datasetB.doc_id").as("b_id"),
        (lit(1.0) - col("dist")).as("jaccard_est"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lean = MlLsh.minHashPairsMl(docs, maxJaccardDistance = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lean.keySet == reference.keySet,
      s"pair sets differ: lean-only=${(lean.keySet -- reference.keySet).take(5)} " +
        s"ref-only=${(reference.keySet -- lean.keySet).take(5)}")
    assert(reference.nonEmpty)
    reference.foreach { case (k, d) =>
      assert(lean(k) == d, s"jaccard drift at $k: lean=${lean(k)} ref=$d") // bit-equal
    }
  }

  test("salted shuffle candidate arm (over-cap) ≡ broadcast arm, both LSH legs") {
    // r20: the candidate join's build-side broadcast is size-gated by
    // the broadcast threshold; past it the join runs as a
    // salt-and-replicate shuffle join. A threshold of -1 exercises the
    // salted arm on the same corpus and pins its output bit-exact against
    // the broadcast arm (which MlLshSpec already pins against
    // model.approxSimilarityJoin).
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    def brp() = MlLsh.embeddingPairsMl(emb, maxL2 = 1.15)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def mh() = MlLsh.minHashPairsMl(docs, maxJaccardDistance = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val (brpB, mhB) = (brp(), mh())
    withBroadcastThreshold(-1) {
      val (brpS, mhS) = (brp(), mh())
      assert(brpS == brpB, s"BRP salted arm drifted: " +
        s"salted-only=${(brpS.keySet -- brpB.keySet).take(5)} " +
        s"broadcast-only=${(brpB.keySet -- brpS.keySet).take(5)}")
      assert(mhS == mhB, s"MinHash salted arm drifted: " +
        s"salted-only=${(mhS.keySet -- mhB.keySet).take(5)} " +
        s"broadcast-only=${(mhB.keySet -- mhS.keySet).take(5)}")
      assert(brpB.nonEmpty && mhB.nonEmpty)
    }
  }

  test("BucketedRandomProjectionLSH returns verified close pairs only") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val pairs = MlLsh.embeddingPairsMl(emb, maxL2 = 1.2).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Double]("l2") <= 1.2)) // join verifies distance
  }
}
