package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, greatest, lit}
import org.apache.spark.unsafe.types.UTF8String

/** [[Tuning.loopPartitions]] takes its row count by name: the count is a
  * Spark job, and at a session no wider than the floor it cannot change
  * the width, so it must not run there. [[Tuning.loop]] is the scaffold of
  * the distributed loops: its conf, caches, rounds and job descriptions
  * must come back whatever the loop body does. [[Tuning.materialize]]
  * runs no job for rows the driver already holds.
  */
class TuningSpec extends SparkSpec {

  private val aqeKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
  private val descKey = "spark.job.description"

  test("loopPartitions leaves the row count unevaluated at the floor width") {
    var evaluated = false
    assert(Tuning.loopPartitions({ evaluated = true; 10L }, 4) == 4)
    assert(Tuning.loopPartitions({ evaluated = true; 10L }, 2) == 4)
    assert(!evaluated)
  }

  test("loopPartitions counts on a wider session and caps at its width") {
    var evaluated = false
    assert(Tuning.loopPartitions({ evaluated = true; 10L }, 16) == 4)
    assert(evaluated)
    assert(Tuning.loopPartitions(10000000L, 16) == 16)
    assert(Tuning.loopPartitions(750000L, 16) == 8)
  }

  test("materialize leaves a local relation as it is, with or without a checkpoint dir") {
    initLog()
    val local = org.apache.spark.sql.GraftBridge.localFrame(spark,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING"),
      Seq(InternalRow(1L, UTF8String.fromString("a")), InternalRow(2L, null)))
    // a projection over it is a local relation too once optimized
    Seq(local, local.select((col("id") + 1).as("id"), col("v"))).foreach { df =>
      val rows = df.collect().toSeq
      Seq(false, true).foreach { reliable =>
        def run = jobsUnderGroup(Tuning.materialize(df))
        val (out, jobs) = if (reliable) withCheckpointDir(run) else run
        assert(jobs === 0, s"reliable = $reliable")
        assert(out eq df)
        assert(out.collect().toSeq === rows)
      }
    }
  }

  test("loop sets the AQE cache flag while it runs and unsets it after") {
    initLog()
    val s = spark.newSession()
    s.conf.unset(aqeKey)
    assert(Tuning.loop(s, "probe")(_ => s.conf.get(aqeKey)) == "true")
    assert(!s.sessionState.conf.contains(aqeKey))
  }

  test("loop releases its caches and restores the AQE flag when a round throws") {
    initLog()
    val s = spark.newSession()
    s.conf.set(aqeKey, "false")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException](Tuning.loop(s, "probe") { loop =>
      val side = loop.persist(s.range(10).toDF("id"))
      loop.rounds(side, 3) { state =>
        if (state.count() > 0) throw new IllegalStateException("round failed")
        state
      }
    })
    assert(e.getMessage == "round failed")
    assert(s.conf.get(aqeKey) == "false")
    val retained = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(retained.isEmpty, s"leaked caches: $retained")
  }

  test("a loop that does not converge raises, after its last round, with its caches released") {
    initLog()
    val s = spark.newSession()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var rounds = 0
    intercept[IllegalArgumentException](Tuning.loop(s, "probe") { loop =>
      // every round moves every row, so no round converges
      val (_, converged) = loop.rounds(s.range(5).toDF("id"), 3, Some(col("id") =!= col("old"))) {
        state =>
          rounds += 1
          state.select((col("id") + 1).as("id"), col("id").as("old"))
      }
      require(converged, "probe did not converge")
    })
    assert(rounds == 3)
    val retained = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(retained.isEmpty, s"leaked caches: $retained")
  }

  test("a converging loop stops at the first round that changes no row") {
    initLog()
    val s = spark.newSession()
    var rounds = 0
    val (out, converged) = Tuning.loop(s, "probe") { loop =>
      val (state, converged) = loop.rounds(s.range(5).toDF("id"), 10,
          Some(col("id") =!= col("old"))) { state =>
        rounds += 1
        // ids rise to 2 and stay there
        state.select(greatest(col("id"), lit(2L)).as("id"), col("id").as("old"))
      }
      (state.collect().map(_.getLong(0)).sorted.toSeq, converged)
    }
    assert(converged && rounds == 2)
    assert(out === Seq(2L, 2L, 2L, 3L, 4L))
  }

  test("round jobs carry their round tag and the caller's description comes back") {
    initLog()
    val s = spark.newSession()
    val sc = spark.sparkContext
    val group = s"spec-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(p.getProperty(descKey)))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "caller")
      val n = Tuning.loop(s, "probe") { loop =>
        val (state, _) = loop.rounds(s.range(5).toDF("id"), 2)(_.select((col("id") + 1).as("id")))
        state.count()
      }
      assert(n == 5)
      assert(sc.getLocalProperty(descKey) == "caller")
      intercept[IllegalStateException](Tuning.loop(s, "probe") { loop =>
        loop.rounds(s.range(5).toDF("id"), 2)(_ => throw new IllegalStateException("boom"))
      })
      assert(sc.getLocalProperty(descKey) == "caller")
      org.apache.spark.sql.GraftBridge.flushListenerBus(spark)
      import scala.jdk.CollectionConverters._
      // each round's count (one or more jobs), then the caller's count of
      // the final state; the failing loop's start count ran before its
      // first round threw
      val runs = seen.asScala.foldLeft(Vector.empty[String])((acc, d) =>
        if (acc.lastOption.contains(d)) acc else acc :+ d)
      assert(runs ===
        Seq("probe round 0", "probe round 1", "probe round 2", "caller", "probe round 0"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
