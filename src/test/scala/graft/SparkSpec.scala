package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites: the first suite's
  * [[Session]] builds it at 4 cores, and every later suite adopts it.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.getOrCreate(cores = 4)

  def initLog(): Unit = spark.sparkContext.setLogLevel("ERROR")

  /** Run `body` with a fresh temporary checkpoint dir set on the shared
    * SparkContext (so [[graft.ops.Tuning.materialize]] writes reliable
    * checkpoints), then restore the previous setting and delete the dir.
    * Suites share one SparkContext, and a leaked dir would switch every
    * later suite to reliable checkpoints. SparkContext has no public
    * unset, so the previous value goes back reflectively.
    */
  def withCheckpointDir[A](body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    sc.setCheckpointDir(dir.getPath)
    try body finally {
      sc.getClass.getDeclaredFields.filter(_.getName.endsWith("checkpointDir"))
        .foreach { f => f.setAccessible(true); f.set(sc, prev) }
      assert(sc.getCheckpointDir == prev, "failed to restore the checkpoint dir")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  /** Run `body` with `spark.sql.autoBroadcastJoinThreshold` set to `t`. */
  def withBroadcastThreshold[A](t: Long)(body: => A): A =
    graft.ops.Tuning.withSqlConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> t.toString)(body)

  /** Register `name` twice: at the session's threshold, where the small
    * inputs of these tests take an iterative operator's driver path
    * ([[graft.ops.Tuning.broadcastRows]]), and as "`name` (loop path)"
    * under threshold -1, where they take its distributed loop.
    */
  def bothPathsTest(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(s"$name (loop path)")(withBroadcastThreshold(-1)(body))
  }

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
