package graft

import org.scalatest.funsuite.AnyFunSuite

/** Prints [[Sources.stageRoot]] for [[StageRootSpec]]'s second process. */
object StageRootProbe {
  def main(args: Array[String]): Unit = println(Sources.stageRoot)
}

/** Staged query inputs live under a root of their own in every process, so
  * two processes that build the driver queries at once cannot destroy each
  * other's files.
  */
class StageRootSpec extends AnyFunSuite {
  test("the staging root differs between processes and is stable within one") {
    val javaBin = new java.io.File(System.getProperty("java.home"), "bin/java").getPath
    val proc = new ProcessBuilder(javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.StageRootProbe").redirectErrorStream(true).start()
    val other = scala.io.Source.fromInputStream(proc.getInputStream).mkString.trim
    assert(proc.waitFor() === 0, other)
    assert(new java.io.File(other).isDirectory, other)
    assert(Sources.stageRoot === Sources.stageRoot)
    assert(new java.io.File(Sources.stageRoot).isDirectory)
    assert(other !== Sources.stageRoot)
  }
}
