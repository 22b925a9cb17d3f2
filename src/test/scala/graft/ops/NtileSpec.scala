package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[Relational.globalNtile]] (range partition + offset arithmetic, no
  * single-partition window) must be BIT-IDENTICAL to the windowed
  * `ntile(k) OVER (ORDER BY …)` spelling it replaced (r20) — including
  * the layout edge cases: N < k, N = k, N % k ≠ 0, heavy ties on the
  * leading order column, and inputs spread over several input
  * partitions so the range exchange really moves rows.
  */
class NtileSpec extends SparkSpec {

  private def compare(rows: Seq[(Long, Long)], k: Int): Unit = {
    import spark.implicits._
    // several input partitions + a non-sorted input order
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => (r._1, r._2)), 3).map(identity))
      .toDF("v", "id")
    val windowed = df.withColumn("bucket",
        ntile(k).over(Window.orderBy(col("v"), col("id"))).cast("long"))
      .select("v", "id", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val scalable = Relational.globalNtile(df, k, Seq(col("v"), col("id")))
      .select("v", "id", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(scalable == windowed,
      s"k=$k n=${rows.size}: diff=${(scalable.toSet diff windowed.toSet).take(5)}")
  }

  test("globalNtile ≡ ntile window: N around k, uneven buckets, ties") {
    initLog()
    val rnd = new scala.util.Random(7)
    // N from degenerate to a few multiples of k, values with many ties
    for (n <- Seq(1, 3, 7, 8, 9, 15, 16, 17, 100); k <- Seq(1, 3, 8)) {
      val rows = (1 to n).map(i => (rnd.nextInt(5).toLong, i.toLong))
      compare(rows, k)
    }
  }

  test("globalNtile ≡ ntile window: larger input, all-distinct and all-equal") {
    initLog()
    val rnd = new scala.util.Random(13)
    compare((1 to 5000).map(i => (rnd.nextLong(), i.toLong)), 8)
    compare((1 to 5000).map(i => (0L, i.toLong)), 8) // total order only via id
  }

  test("globalNtile refuses an input column named like its bucket column") {
    initLog()
    import spark.implicits._
    val df = Seq((1L, 9L), (2L, 9L)).toDF("v", "bucket")
    val e = intercept[IllegalArgumentException](
      Relational.globalNtile(df, 2, Seq(col("v"))))
    assert(e.getMessage.contains("bucket"))
    // a distinct bucketCol keeps the input column intact
    val out = Relational.globalNtile(df, 2, Seq(col("v")), bucketCol = "nt")
      .select("v", "bucket", "nt").as[(Long, Long, Long)].collect().sorted.toSeq
    assert(out === Seq((1L, 9L, 1L), (2L, 9L, 2L)))
  }
}
