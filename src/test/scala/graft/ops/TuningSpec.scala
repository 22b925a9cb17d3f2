package graft.ops

import graft.SparkSpec

/** [[Tuning.withLoopParallelism]] takes its row count by name: the count
  * is a Spark job, and at a session no wider than the loop floor it cannot
  * change the width, so it must not run there.
  */
class TuningSpec extends SparkSpec {

  private val key = "spark.sql.shuffle.partitions"

  private def sessionAt(width: Int) = {
    val s = spark.newSession()
    s.conf.set(key, width.toString)
    s
  }

  test("withLoopParallelism leaves the row count unevaluated at the floor width") {
    initLog()
    val s = sessionAt(4)
    var evaluated = false
    val width = Tuning.withLoopParallelism(s, { evaluated = true; 10L })(s.conf.get(key))
    assert(!evaluated)
    assert(width == "4")
  }

  test("withLoopParallelism counts, narrows and restores on a wider session") {
    initLog()
    val s = sessionAt(16)
    val df = s.range(10).toDF()
    var evaluated = false
    val width = Tuning.withLoopParallelism(s,
      { evaluated = true; df.count() })(s.conf.get(key))
    assert(evaluated)
    assert(width == "4")
    assert(s.conf.get(key) == "16")
  }

  test("withLoopParallelism leaves a width that was unset unset") {
    initLog()
    val s = spark.newSession()
    s.conf.unset(key)
    val width = Tuning.withLoopParallelism(s, 10L)(s.conf.get(key))
    assert(width == "4")
    assert(!s.sessionState.conf.contains(key))
  }
}
