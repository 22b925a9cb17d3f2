package graft

/** Suite-wide partition-invariance gate: EVERY driver query must produce
  * bit-identical results whatever the shuffle fan-out — the property that
  * makes results reproducible when a cluster resizes, AQE re-plans, or a
  * 100 TB run lands on different executor counts than the dev box. The
  * engine earns this by construction (exact integer arithmetic for every
  * aggregate that feeds a comparison, total orders under every LIMIT,
  * associative merge states); this spec checks the whole query map
  * instead of trusting the per-operator specs to have covered each new
  * addition.
  *
  * Method: run each query at sf0.001 under shuffle.partitions=3 and =17
  * (coprime, both ≠ the suite default), canonicalize rows to sorted
  * string form, and require equality. Cells canonicalize by VALUE —
  * Array[Byte] renders as hex and nested seqs/maps recurse — because
  * Row.toString would stringify binary cells by object identity
  * ([B@…), failing the gate on bit-identical results the moment a
  * query surfaces a raw sketch/binary column. Queries are CONSTRUCTED
  * after each conf change (the fn builds a fresh plan, so the setting
  * is honored at planning time).
  *
  * The same holds across the two materialization modes of
  * [[graft.ops.Tuning.materialize]]: every query that materializes
  * returns the same rows with a checkpoint dir set as without one, on the
  * iterative operators' driver and loop paths alike. Under a checkpoint
  * dir no plan scans a local checkpoint, and on the loop path, where
  * every caller materializes, each plan scans a reliable one.
  */
class DeterminismSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def cellStr(v: Any): String = v match {
    case null => "NULL"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case a: Array[_] => a.map(cellStr).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(cellStr).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${cellStr(k)}->${cellStr(x)}" }.toSeq.sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => rowStr(r)
    case other => other.toString
  }
  private def rowStr(r: org.apache.spark.sql.Row): String =
    r.toSeq.map(cellStr).mkString("(", "|", ")")

  private def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(rowStr).sorted.toSeq

  test("every driver query is partition-invariant at sf0.001", SlowTest) {
    initLog()
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    // restore whatever the shared session actually ran with (the session
    // outlives this suite), not a re-hardcoded copy of SparkSpec's default
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      queries.foreach { case (name, fn) =>
        try {
          spark.conf.set("spark.sql.shuffle.partitions", "3")
          val a = canon(fn(spark, sfDir).collect())
          spark.conf.set("spark.sql.shuffle.partitions", "17")
          val b = canon(fn(spark, sfDir).collect())
          if (a != b)
            failures += s"$name: ${a.size} vs ${b.size} rows" +
              a.zip(b).find { case (x, y) => x != y }
                .map { case (x, y) => s"; first diff:\n  p3:  $x\n  p17: $y" }
                .getOrElse("")
        } catch {
          case e: Throwable => failures += s"$name: CRASH ${e.getMessage}"
        }
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
    }
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }

  /** One `SparkEntry.queries` entry per [[graft.ops.Tuning.materialize]] caller. */
  private val materializing = Seq(
    "op_graph_components", "op_graph_pagerank", "op_histogram_equifreq",
    "op_cooccurrence", "llm_dedup_jaccard_prefix", "llm_dedup_cluster_stats",
    "llm_dedup_threshold_sweep", "llm_dedup_minhash", "llm_dedup_minhash_ml",
    "llm_embedding_pairs_ml", "llm_bpe_learn")

  /** Whether `df`'s plan scans an RDD checkpointed reliably (`reliable`)
    * or locally (not `reliable`).
    */
  private def scansCheckpoint(df: org.apache.spark.sql.DataFrame, reliable: Boolean): Boolean = {
    def hit(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
      (rdd.isCheckpointed && rdd.getCheckpointFile.isDefined == reliable) ||
        rdd.dependencies.exists(d => hit(d.rdd))
    df.queryExecution.analyzed
      .collectWithSubqueries { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
      .exists(hit)
  }

  test("under a checkpoint dir no materialize caller scans a local checkpoint") {
    initLog()
    def run(q: String) = {
      val df = SparkEntry.queries(q)(spark, sfDir)
      (canon(df.collect()), scansCheckpoint(df, reliable = true),
        scansCheckpoint(df, reliable = false))
    }
    // the session threshold, where the iterative operators take their
    // driver paths on these inputs, and -1, where every loop runs
    Seq("driver" -> None, "loop" -> Some(-1L)).foreach { case (path, threshold) =>
      def onPath[A](body: => A): A = threshold.fold(body)(withBroadcastThreshold(_)(body))
      val local = onPath(materializing.map(run))
      val reliable = withCheckpointDir(onPath(materializing.map(run)))
      materializing.zip(local.zip(reliable)).foreach {
        case (q, ((localRows, localReliable, _), (reliableRows, reliableReliable, reliableLocal))) =>
          assert(reliableRows === localRows, s"$q, $path path")
          assert(!localReliable, s"$q scans a reliable checkpoint without a checkpoint dir")
          assert(!reliableLocal, s"$q scans a local checkpoint under a checkpoint dir, $path path")
          if (path == "loop")
            assert(reliableReliable, s"$q scans no reliable checkpoint under a checkpoint dir")
      }
    }
  }
}
