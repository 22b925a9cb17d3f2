package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfBenchBridge
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Dialect, Engine, SparkEntry, Tables}

/** One query the closed loop runs. `text` is the dialect and SQL for the
  * workloads that go through `Engine.execute`; it lets the traced run time
  * `Dialect.rewrite` on the same text.
  */
final case class Item(id: String, run: SparkSession => DataFrame,
    text: Option[(String, String)] = None)

/** One timed query. */
final case class Sample(id: String, pass: Int, ms: Double, ok: Boolean, digest: String = "",
    error: String = "")

/** The traced record of one query: its spans and the work of its phases. */
final case class TracedQuery(id: String, bytes: Int, spans: Seq[Span], group: String,
    construct: GroupStats = new GroupStats, execute: GroupStats = new GroupStats) {
  def span(name: String): Seq[Span] = spans.filter(_.name == name)
  def ms(name: String): Double = span(name).map(_.ms).sum
  // children within 1 ms of the parent: Catalyst's tracker keeps whole milliseconds
  def self(name: String): Double = span(name).map { s =>
    Span.selfMs(s, spans.filter(c => c.parent.contains(s.name) && c.startMs >= s.startMs - 1 &&
      c.endMs <= s.endMs + 1))
  }.sum
}

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  * Usage: Main --workload <tpch|dialect_mix|iterative_ops> --seed <n>
  *   --seconds <s> --trace <0|1> --data <dir> --sf <scale> --cores <n>
  *   --expected <expected.json> --out <result.json>
  * (`run.py` supplies all of these.)
  *
  * Prints the result line (correct / attempted / failed / metrics) as the
  * last line of stdout and writes the full record to `--out`.
  */
object Main {
  val setups = 3
  val iterativeOps: Seq[String] = Seq(
    "llm_dedup_minhash", "llm_dedup_cluster_stats", "llm_bpe_learn",
    "op_graph_components", "op_graph_pagerank", "op_cooccurrence",
    "llm_dedup_minhash_ml", "llm_embedding_pairs_ml", "op_profile_table")

  def session(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.props.get("perfbench.scratch").foreach { d =>
      b.config("spark.local.dir", s"$d/local").config("spark.sql.warehouse.dir", s"$d/warehouse")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ---------------------------------------------------------------- digest

  private def hashable(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => false
    case a: ArrayType => hashable(a.elementType)
    case s: StructType => s.fields.forall(f => hashable(f.dataType))
    case _ => true
  }

  /** One row: the row count and an order-independent sum of xxhash64 over
    * every column. Columns xxhash64 rejects (maps, variants) are hashed
    * through to_json.
    */
  def digestFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (hashable(f.dataType)) col(f.name) else to_json(struct(col(f.name)))
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)), sum(h.cast("decimal(20,0)")))
  }

  private def digestString(r: Row): String =
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"

  /** The digest, and the DataFrame whose action computed it. */
  def digest(df: DataFrame): (String, DataFrame) = {
    val agg = digestFrame(df)
    // collect runs agg's own QueryExecution; head() would plan a limit
    (digestString(agg.collect().head), agg)
  }

  // ------------------------------------------------------------- workloads

  /** `warmPasses`: whole passes run before timing starts, with every result
    * checked, so that the rewriter and the analyzer are compiled by the JIT
    * and each statement's generated code exists before the first timed
    * query. `minPasses`: untraced, the timed passes a run makes however fast
    * the box is, so that each statement's median has several samples. The
    * traced run, which times every query twice, keeps to `--seconds`.
    * `seededOrder`: each pass runs the items in an order the seed picks;
    * otherwise in the order given. */
  final case class Workload(dir: String, items: Seq[Item],
      expected: Map[String, String], stmts: Seq[Stmt] = Seq.empty, warmPasses: Int = 0,
      minPasses: Int = 1, seededOrder: Boolean = true)

  /** The untimed warm-up every set-up ends with: one small statement
    * through the dialect rewriter, Catalyst and one job. */
  private def warmup(spark: SparkSession): Unit =
    digest(Engine.execute(spark,
      "SELECT o_orderstatus, count(*) AS n FROM orders WHERE o_totalprice >= 1000 GROUP BY 1",
      dialect = Dialect.DuckDbish))

  def workload(name: String, seed: Long, dir: String,
      pinned: Map[String, String]): Workload = name match {
    case "tpch" =>
      val names = SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq
        .sortBy(_.takeWhile(_ != '_').drop(1).toInt)
      val items = names.map(n => Item(n, s => SparkEntry.queries(n)(s, dir)))
      Workload(dir, items, pinned)
    case "iterative_ops" =>
      // one cold pass in a fixed order: operators that share code (the two
      // MinHash operators, the two graph operators) leave its JIT-compiled
      // and generated code to whichever runs later, so a seeded order moved
      // up to 4 s of warm-up from one operator to another and with it the
      // median operator's time
      val items = iterativeOps.map(n => Item(n, s => SparkEntry.queries(n)(s, dir)))
      Workload(dir, items, pinned, seededOrder = false)
    case "dialect_mix" =>
      val stmts = DialectMix.pool(seed)
      val items = stmts.map(st => Item(st.id,
        s => Engine.execute(s, st.sql, dialect = Dialect.forName(st.dialect)),
        Some(st.dialect -> st.sql)))
      Workload(dir, items, Map.empty, stmts, warmPasses = 1, minPasses = 3)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The dialect_mix oracle: the digest of each statement's Spark twin,
    * one action per twin. A twin that fails leaves a marker no digest can
    * equal, so its statement counts as failed. */
  def twinDigests(spark: SparkSession, stmts: Seq[Stmt]): Map[String, String] =
    stmts.map { st =>
      st.id -> (try digest(Engine.execute(spark, st.twin))._1 catch {
        case e: Exception => s"(twin failed: ${String.valueOf(e.getMessage).take(200)})"
      })
    }.toMap

  // ------------------------------------------------------------------ stats

  /** Percentile by linear interpolation between order statistics. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Fixed work that depends on no input: a 500k-row sort-aggregate. */
  def canary(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 500000L, 1L, cores)
      .selectExpr("id % 9973 AS k", "id AS v")
      .groupBy("k").agg(sum("v").as("s"))
      .selectExpr("s", "row_number() OVER (ORDER BY s, k) AS r")
      .where("r % 7 = 0").count()
    (System.nanoTime() - t0) / 1e6
  }

  // ------------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val pinned = Json.readNested(opt("expected")).getOrElse(s"$name/sf${opt("sf")}", Map.empty)
    val w = workload(name, seed, opt("data"), pinned)
    val wallStart = System.nanoTime()

    // set-up, several times: session, table registration, untimed warm-up.
    // The first builds the SparkContext in a cold JVM; the others build a
    // new session on it, with its own temp views and conf.
    val listener = new GroupListener
    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer.empty[Double]
    val registerMs = mutable.ArrayBuffer.empty[Double]
    (0 until setups).foreach { i =>
      val t0 = System.nanoTime()
      if (spark == null) {
        spark = session(cores)
        if (trace) spark.sparkContext.addSparkListener(listener)
      } else spark = spark.newSession()
      spark.sparkContext.setJobGroup(s"pb|setup$i|register", "register")
      val r0 = System.nanoTime()
      Tables.register(spark, w.dir)
      registerMs += (System.nanoTime() - r0) / 1e6
      spark.sparkContext.clearJobGroup()
      warmup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext

    val preLoop0 = System.nanoTime()
    val expected = if (w.stmts.isEmpty) w.expected else twinDigests(spark, w.stmts)
    val twinsS = (System.nanoTime() - preLoop0) / 1e9

    def check(id: String, pass: Int, ms: Double, d: String): Sample = {
      val want = expected.getOrElse(id, "(no pinned digest)")
      Sample(id, pass, ms, d == want, d, if (d == want) "" else s"digest $d, expected $want")
    }

    def runOnce(it: Item, pass: Int): Sample = {
      val t0 = System.nanoTime()
      try {
        val d = digest(it.run(spark))._1
        val ms = (System.nanoTime() - t0) / 1e6
        check(it.id, pass, ms, d)
      } catch {
        case e: Exception => Sample(it.id, pass, (System.nanoTime() - t0) / 1e6, ok = false,
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }

    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    def runTraced(it: Item, pass: Int): (Sample, Option[TracedQuery]) = {
      val spans = mutable.ArrayBuffer.empty[Span]
      val bytes = it.text.map(_._2.getBytes("UTF-8").length).getOrElse(0)
      val group = s"pb|${it.id}|p$pass"
      try {
        it.text.foreach { case (d, sql) =>
          val r0 = nowMs()
          Dialect.forName(d).rewrite(spark, sql)
          spans += Span("dialect.rewrite", it.id, None, r0, nowMs())
        }
        sc.setJobGroup(s"$group|construct", it.id)
        val c0 = nowMs()
        val df = it.run(spark)
        val c1 = nowMs()
        sc.setJobGroup(s"$group|execute", it.id)
        val (d, agg) = digest(df)
        val e1 = nowMs()
        sc.clearJobGroup()
        spans += Span("query", it.id, None, c0, e1)
        spans += Span("construct", it.id, Some("query"), c0, c1)
        spans += Span("execute", it.id, Some("query"), c1, e1)
        def phases(qe: DataFrame, parent: String): Unit =
          qe.queryExecution.tracker.phases.foreach { case (ph, s) =>
            if (ph != "parsing")
              spans += Span(s"catalyst.$ph", it.id, Some(parent), s.startTimeMs.toDouble, s.endTimeMs.toDouble)
          }
        phases(df, "construct")
        phases(agg, "execute")
        (check(it.id, pass, e1 - c0, d), Some(TracedQuery(it.id, bytes, spans.toSeq, group)))
      } catch {
        case e: Exception =>
          sc.clearJobGroup()
          (Sample(it.id, pass, 0.0, ok = false,
            error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"), None)
      }
    }

    def order(pass: Int): Seq[Item] =
      if (w.seededOrder) new scala.util.Random(seed * 1000003L + pass).shuffle(w.items) else w.items

    // untimed warm passes; their results are checked like the timed ones
    val warm = (0 until w.warmPasses).flatMap(p => order(-1 - p).map(runOnce(_, -1 - p)))
    val preLoopS = (System.nanoTime() - preLoop0) / 1e9
    val canaries = mutable.ArrayBuffer(canary(spark, cores))
    val load0 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // the closed loop: whole passes until time is up
    val untraced = mutable.ArrayBuffer.empty[Sample]
    val traced = mutable.ArrayBuffer.empty[(Sample, Option[TracedQuery])]
    val tracedFirst = mutable.Set.empty[(String, Int)]
    val gc0 = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val loop0 = System.nanoTime()
    val deadline = loop0 + (seconds * 1e9).toLong
    var pass = 0
    do {
      order(pass).zipWithIndex.foreach { case (it, i) =>
        // the traced run times each query twice, traced and untraced, and
        // alternates which goes first so neither gains from the other's caches
        val first = trace && i % 2 == 1
        if (first) tracedFirst += it.id -> pass
        if (!first) untraced += runOnce(it, pass)
        if (trace) traced += runTraced(it, pass)
        if (first) untraced += runOnce(it, pass)
      }
      pass += 1
    } while (System.nanoTime() < deadline || (!trace && pass < w.minPasses))
    val loopS = (System.nanoTime() - loop0) / 1e9
    val gcLoop = gcMs() - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    canaries += canary(spark, cores)
    val load1 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // job, stage and task counts are complete once the listener bus drains
    if (trace) PerfBenchBridge.drainListeners(sc)
    val tracedQs = traced.toSeq.map { case (s, q) => (s, q.map(x => x.copy(
      construct = listener.group(s"${x.group}|construct"), execute = listener.group(s"${x.group}|execute")))) }

    // ---------------------------------------------------------- results
    val all = warm ++ untraced.toSeq ++ traced.map(_._1)
    val attempted = all.size
    val failed = all.count(!_.ok)
    val okMs = untraced.filter(_.ok).map(_.ms).toSeq
    // a pass at each query's median time over the timed passes, so that one
    // slow execution of a long statement does not set the run's throughput
    val medianMs = untraced.filter(_.ok).groupBy(_.id).values.map(s => median(s.map(_.ms).toSeq))
    val endToEnd = Seq(
      ("setup_s", median(setupS.toSeq), "s"),
      ("latency_p50_ms", pct(okMs, 0.5), "ms"),
      ("queries_per_min", medianMs.size / (math.max(1e-9, medianMs.sum) / 60000.0), "1/min"))
    val perLayer = if (trace) layerMetrics(tracedQs, untraced.toSeq, tracedFirst, registerMs.toSeq,
      listener, cores, gcLoop, heapPeakMb) else Seq.empty
    val reported = if (trace) perLayer else endToEnd
    val metricsJson = reported.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }

    val conf = spark.conf.getAll.toSeq.sortBy(_._1).toMap
    val (buckets, longShare) = DialectMix.lengthDistribution(w.stmts)
    val record = Map(
      "workload" -> name, "seed" -> seed, "sf" -> opt("sf"), "seconds" -> seconds, "trace" -> trace,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "failed_ratio" -> failed.toDouble / attempted,
      "end_to_end" -> endToEnd.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> perLayer.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      // too few samples per run for a steady p90: recorded, not a metric
      "latency_p90_ms" -> pct(okMs, 0.9),
      "samples_timed" -> okMs.size, "passes" -> pass, "loop_s" -> loopS,
      "setup_s_all" -> setupS.toSeq, "twins_s" -> twinsS, "pre_loop_s" -> preLoopS,
      "warm_passes" -> w.warmPasses, "register_ms_all" -> registerMs.toSeq,
      "canary_ms" -> Map("start" -> canaries(0), "end" -> canaries(1)),
      "load_average" -> Map("start" -> load0, "end" -> load1),
      "env" -> Map("nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> cores,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "session_conf" -> conf, "data" -> w.dir),
      "length_distribution" -> Map("bytes_per_kb_bucket" -> buckets.map { case (k, v) => k.toString -> v },
        "long_share" -> longShare, "statements" -> w.stmts.size),
      "failures" -> all.filter(!_.ok).map(s => Map("id" -> s.id, "pass" -> s.pass, "error" -> s.error)),
      "digests" -> all.filter(_.digest.nonEmpty).map(s => s.id -> s.digest).toMap,
      "samples" -> untraced.map(s => Map("id" -> s.id, "pass" -> s.pass, "ms" -> s.ms, "ok" -> s.ok)),
      "traced" -> tracedQs.collect { case (s, Some(q)) => Map("id" -> q.id, "pass" -> s.pass, "ms" -> s.ms,
        "bytes" -> q.bytes,
        "spans" -> q.spans.map(sp => Map("name" -> sp.name, "parent" -> sp.parent.getOrElse(""),
          "start_ms" -> sp.startMs, "end_ms" -> sp.endMs)),
        "construct_jobs" -> q.construct.jobs, "execute_jobs" -> q.execute.jobs) },
      "wall_s" -> (System.nanoTime() - wallStart) / 1e9)
    Json.write(opt("out"), record)
    spark.stop()
    println(Json.encode(Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricsJson.toMap)))
  }

  /** Per-layer metrics from the traced passes. Per-query figures are means
    * over the traced queries; percentiles are over the same queries.
    */
  def layerMetrics(traced: Seq[(Sample, Option[TracedQuery])], untraced: Seq[Sample],
      tracedFirst: collection.Set[(String, Int)],
      registerMs: Seq[Double], listener: GroupListener, cores: Int, gcLoopMs: Long,
      heapPeakMb: Double): Seq[(String, Double, String)] = {
    val qs = traced.collect { case (s, Some(q)) if s.ok => q }
    val n = math.max(1, qs.size).toDouble
    def mean(f: TracedQuery => Double): Double = qs.map(f).sum / n
    val wall = qs.map(_.ms("query"))
    val wallSum = math.max(1e-9, wall.sum)
    val rewrite = qs.map(_.ms("dialect.rewrite"))
    val long = qs.filter(_.bytes > 0)
    val tailCut = pct(wall, 0.9)
    val tail = qs.filter(_.ms("query") >= tailCut)
    def exec(f: GroupStats => Double): Double = mean(q => f(q.execute))
    val execStages = qs.flatMap(_.execute.stageTaskMs).filter(_.size >= 2).map { t =>
      t.max.toDouble / math.max(1.0, median(t.map(_.toDouble)))
    }
    val jobs = qs.map(q => q.construct.jobs + q.execute.jobs).sum
    val taskMs = qs.map(q => q.construct.taskMs + q.execute.taskMs).sum.toDouble
    val construct = qs.map(q => q.ms("construct")).sum
    val execSelf = qs.map(q => q.self("execute")).sum
    // tracing overhead: the geometric mean of traced over untraced time of
    // the same query, averaged between the two orders so that the second
    // run's warmer caches cancel out
    val plain = untraced.filter(_.ok).map(s => (s.id, s.pass) -> s.ms).toMap
    val logRatios = traced.collect { case (s, Some(q)) if s.ok && plain.contains((s.id, s.pass)) =>
      tracedFirst((s.id, s.pass)) -> math.log(q.ms("query") / plain((s.id, s.pass)))
    }
    def avg(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val byOrder = logRatios.groupBy(_._1).values.map(v => avg(v.map(_._2))).toSeq
    val overhead = math.exp(avg(byOrder)) - 1.0
    val setupGroup = listener.group(s"pb|setup${setups - 1}|register")
    Seq(
      ("dialect.rewrite_ms_p50", pct(rewrite, 0.5), "ms"),
      ("dialect.rewrite_ms_p90", pct(rewrite, 0.9), "ms"),
      ("dialect.rewrite_ms_per_kb_p90",
        pct(long.map(q => q.ms("dialect.rewrite") / (q.bytes / 1024.0)), 0.9), "ms/KB"),
      ("dialect.rewrite_share", rewrite.sum / wallSum, "ratio"),
      ("dialect.rewrite_share_tail",
        tail.map(_.ms("dialect.rewrite")).sum / math.max(1e-9, tail.map(_.ms("query")).sum), "ratio"),
      ("engine.execute_ms_p50", pct(qs.map(q => q.ms("construct") - q.ms("dialect.rewrite")), 0.5), "ms"),
      ("tables.register_ms", median(registerMs), "ms"),
      ("tables.register_jobs", setupGroup.jobs.toDouble, "count"),
      ("construct.ms", mean(_.self("construct")), "ms"),
      ("construct.jobs", mean(_.construct.jobs.toDouble), "count"),
      ("construct.tasks", mean(_.construct.tasks.toDouble), "count"),
      ("construct.share", construct / wallSum, "ratio"),
      ("catalyst.analysis_ms", mean(_.ms("catalyst.analysis")), "ms"),
      ("catalyst.optimization_ms", mean(_.ms("catalyst.optimization")), "ms"),
      ("catalyst.planning_ms", mean(_.ms("catalyst.planning")), "ms"),
      ("exec.ms", execSelf / n, "ms"),
      ("exec.share", execSelf / wallSum, "ratio"),
      ("exec.jobs", exec(_.jobs.toDouble), "count"),
      ("exec.stages", exec(_.stages.toDouble), "count"),
      ("exec.tasks", exec(_.tasks.toDouble), "count"),
      ("exec.task_cpu_ms", exec(_.cpuNs / 1e6), "ms"),
      ("exec.shuffle_write_bytes", exec(_.shuffleWriteBytes.toDouble), "bytes"),
      ("exec.shuffle_read_bytes", exec(_.shuffleReadBytes.toDouble), "bytes"),
      ("exec.spill_bytes", exec(_.spillBytes.toDouble), "bytes"),
      ("exec.task_skew", if (execStages.isEmpty) 1.0 else pct(execStages, 0.9), "ratio"),
      ("jobs.ms_per_job", wallSum / math.max(1, jobs), "ms"),
      ("exec.idle_core_ratio", 1.0 - taskMs / (wallSum * cores), "ratio"),
      ("exec.tasks_failed", qs.map(q => q.construct.tasksFailed + q.execute.tasksFailed).sum.toDouble, "count"),
      ("exec.stages_retried",
        qs.map(q => q.construct.stagesRetried + q.execute.stagesRetried).sum.toDouble, "count"),
      ("jvm.gc_ms", gcLoopMs.toDouble, "ms"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.overhead_ratio", overhead, "ratio"))
  }
}
