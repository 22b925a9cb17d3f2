package graft

/** [[Examples]] run in a JVM that already built a SparkSession: the
  * builder's `getOrCreate` then returns that session without the
  * builder's extensions, and the examples must still print the exact
  * lines a fresh JVM prints (`examples.out`, captured from
  * `sbt "runMain graft.Examples"`), leaving the caller's session running.
  */
class ExamplesSpec extends SparkSpec {

  test("graft.Examples prints its lines byte-for-byte over an existing session") {
    initLog()
    val optimizations = spark.experimental.extraOptimizations
    val strategies = spark.experimental.extraStrategies
    val out = new java.io.ByteArrayOutputStream
    try Console.withOut(out)(Examples.main(Array.empty))
    finally {
      spark.experimental.extraOptimizations = optimizations
      spark.experimental.extraStrategies = strategies
    }
    val want = scala.io.Source.fromResource("examples.out")
    try assert(out.toString("UTF-8") === want.mkString) finally want.close()
    assert(!spark.sparkContext.isStopped)
  }
}
