package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (reference: CSV via READ_CSV is the only source,
  * xorbits_sql/executor.py:290-308, and there are no sinks at all —
  * SURVEY.md §2.1 #16). Here: CSV/JSON/parquet readers with schema
  * application, and partitioned/plain writers. All readers are distributed
  * Spark sources — column pruning and filter pushdown reach them.
  */
object Sources {

  /** The directory, one per process, under which queries stage the inputs
    * they rewrite with `mode("overwrite")` each time they are built (and
    * their oracles read back), so two processes building the queries at
    * once never overwrite each other's files. It is deleted when the
    * process exits, unless [[keepStageRoot]] was called.
    */
  lazy val stageRoot: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stage_").toFile
    sys.addShutdownHook(if (!keepRoot) org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.getPath
  }

  @volatile private var keepRoot = false

  /** Keep [[stageRoot]] after the process exits: `Verify` calls this,
    * because the oracles it writes read the staged files afterwards.
    */
  private[graft] def keepStageRoot(): Unit = keepRoot = true

  /** CSV reader matching the reference's READ_CSV semantics: header row,
    * optional delimiter, dtypes from an optional schema (schema wins over
    * inference — the reference pulls dtypes from its schema mapping).
    */
  def csv(spark: SparkSession, path: String, delimiter: String = ",",
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true").option("sep", delimiter)
    schema match {
      case Some(s) => r.schema(s).csv(path)
      case None => r.option("inferSchema", "true").csv(path)
    }
  }

  /** JSON-lines reader (growth beyond the reference). */
  def json(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None => spark.read.json(path)
    }

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC reader — Spark-native columnar source; like parquet, filter
    * pushdown and column pruning reach the scan (growth beyond the
    * reference's CSV-only surface).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Plain-text reader — one row per line, single `value` column: the raw
    * corpus-ingestion format (crawl dumps, log lines). Distributed line
    * splitting; schema is fixed by the format.
    */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Text sink (one column, one line per row). */
  def writeText(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").text(path)

  /** Binary-file reader — one row per FILE (`path`, `modificationTime`,
    * `length`, `content`): the blob-ingestion path for image/audio stores
    * laid out as individual objects rather than parquet-packed blobs.
    * `pathGlobFilter` narrows the listing before any bytes are read.
    */
  def binaryFiles(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)

  /** XML reader (Spark 4's built-in XML source) — `rowTag` names the
    * repeated element that becomes a row. Prefer a declared schema:
    * inference reads everything as the widest type that fits and costs
    * an extra pass.
    */
  def xml(spark: SparkSession, path: String, rowTag: String = "row",
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format("xml").option("rowTag", rowTag)
    schema match {
      case Some(s) => r.schema(s).load(path)
      case None => r.load(path)
    }
  }

  /** XML sink (one `rowTag` element per row). */
  def writeXml(df: DataFrame, path: String, rowTag: String = "row"): Unit =
    df.write.mode("overwrite").format("xml").option("rowTag", rowTag).save(path)

  /** Parquet sink; `partitionBy` columns become directory partitions —
    * the layout that makes downstream partition pruning free at scale.
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String, delimiter: String = ","): Unit =
    df.write.mode("overwrite").option("header", "true").option("sep", delimiter).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }
}
