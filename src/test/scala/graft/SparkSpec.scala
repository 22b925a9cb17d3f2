package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite via lazy val,
  * per the project testing conventions).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def initLog(): Unit = spark.sparkContext.setLogLevel("ERROR")

  /** Run `body` under a fresh job group and return its result with the
    * number of Spark jobs that started under that group.
    */
  def jobsUnderGroup[A](body: => A): (A, Int) = {
    val group = s"spec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "test")
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.sql.GraftBridge.flushListenerBus(spark)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
