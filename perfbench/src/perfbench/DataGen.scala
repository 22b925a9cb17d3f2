package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator of the benchmark's input tables.
  *
  * Writes the ten tables `graft.Tables.all` registers (one parquet
  * directory each) with the column names and types the engine's queries
  * read: a TPC-H-like star schema, an `events` stream, `documents` with
  * planted near-duplicates, and unit-norm 64-d `embeddings`. Every value
  * is a pure function of the row id and a fixed salt (xxhash64), so the
  * output does not depend on partitioning, core count or run: the
  * pinned digests in `expected.json` stay valid on any machine.
  *
  * Usage: DataGen <outDir> <sf>
  */
object DataGen {
  private val Salt = 20261017L

  /** Uniform double in [0, 1) from the row id and a per-column salt. */
  private def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(Salt + salt)), lit(1000000007L)).cast("double") / 1000000007.0

  /** Uniform integer in [lo, hi]. */
  private def ui(salt: Int, lo: Long, hi: Long): Column =
    (lit(lo) + floor(u(salt) * (hi - lo + 1))).cast("long")

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (floor(u(salt) * values.size) + 1).cast("int"))

  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt) * (hi - lo), 2)

  private def ntzDay(salt: Int, from: String, days: Int): Column =
    date_add(lit(from).cast("date"), ui(salt, 0, days - 1).cast("int")).cast("timestamp_ntz")

  val words: Seq[String] = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = math.max(500L, n(50000)); val nEmb = math.max(500L, n(20000))
    def rows(count: Long): DataFrame = spark.range(0L, count, 1L, 1).toDF()

    val region = rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = rows(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = rows(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui(1, 0, 24).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = rows(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui(4, 0, 24).cast("int").as("s_nationkey"), money(5, -999.99, 9999.99).as("s_acctbal"))
    val part = rows(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("red", "new", "hot", "small", "cold", "large", "old", "blue")),
        pick(7, Seq("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"))).as("p_name"),
      concat(lit("Brand#"), ui(8, 1, 25)).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      ui(10, 1, 50).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 2).as("p_retailprice"))
    val orders = rows(nOrd).select(col("id").as("o_orderkey"), ui(11, 0, nCust - 1).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"), money(13, 1000.0, 500000.0).as("o_totalprice"),
      ntzDay(14, "1995-01-01", 2405).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = rows(nLine).select(ui(16, 0, nOrd - 1).as("l_orderkey"),
      ui(17, 0, nPart - 1).as("l_partkey"), ui(18, 0, nSupp - 1).as("l_suppkey"),
      ui(19, 1, 7).cast("int").as("l_linenumber"), ui(20, 1, 50).cast("double").as("l_quantity"),
      money(21, 900.0, 105000.0).as("l_extendedprice"),
      (ui(22, 0, 10).cast("double") / 100.0).as("l_discount"),
      (ui(23, 0, 8).cast("double") / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"), pick(25, Seq("F", "O")).as("l_linestatus"),
      ntzDay(26, "1995-01-02", 2499).as("l_shipdate"))
    val events = rows(nEv).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + ui(27, 0, 30L * 86400L * 1000000L - 1))
        .cast("timestamp_ntz").as("ts"),
      ui(28, 0, 1499).as("user_id"),
      pick(29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money(30, 0.0, 560.0).as("value"),
      format_string("{\"k\": %d}", ui(31, 0, 99)).as("props"))
    // one doc in twenty copies an earlier doc's words and appends "dup"
    val vocab = array(words.map(lit): _*)
    val isDup = col("id") > 0 && u(32) < 0.05
    val base = when(isDup, pmod(xxhash64(col("id"), lit(Salt + 33)), col("id"))).otherwise(col("id"))
    val nWords = (lit(8) + pmod(xxhash64(col("base"), lit(Salt + 34)), lit(93))).cast("int")
    val text = array_join(transform(sequence(lit(1), nWords), i =>
      element_at(vocab, (pmod(xxhash64(col("base"), i, lit(Salt + 35)), lit(words.size.toLong)) + 1)
        .cast("int"))), " ")
    val documents = rows(nDoc).withColumn("base", base).withColumn("dup", isDup)
      .select(col("id").as("doc_id"),
        when(col("dup"), concat(text, lit(" dup"))).otherwise(text).as("text"),
        when(u(36) < 0.4, lit("en")).otherwise(pick(37, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val raw = transform(sequence(lit(1), lit(64)), i =>
      aggregate(sequence(lit(1), lit(4)), lit(-2.0), (acc, j) =>
        acc + pmod(xxhash64(col("id"), i, j, lit(Salt + 38)), lit(1000000007L)).cast("double") /
          1000000007.0))
    val embeddings = rows(nEmb).withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        ui(39, 0, 9).cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  def main(args: Array[String]): Unit = {
    val Array(out, sf) = args
    val spark = Main.session(math.min(4, Runtime.getRuntime.availableProcessors()))
    try tables(spark, sf.toDouble).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")
    } finally spark.stop()
  }
}
