package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static lint: [[Session]] is the only code that builds a SparkSession,
  * so every main and suite runs with the same master sizing, time zone
  * and extensions. A second builder anywhere in `src/main` or `src/test`
  * fails here.
  */
class SessionLintSpec extends AnyFunSuite {

  test("only graft.Session builds a SparkSession") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val factory = new java.io.File("src/main/scala/graft/Session.scala").getCanonicalFile
    val roots = Seq("src/main", "src/test").map(new java.io.File(_))
    roots.foreach(r => assert(r.isDirectory, s"run from the repo root: ${r.getAbsolutePath}"))
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val scanned = roots.flatMap(files).filter(_.getCanonicalFile != factory)
    assert(factory.isFile && scanned.nonEmpty)
    val hits = scanned.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if builder.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}"
      }.toList finally src.close()
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
