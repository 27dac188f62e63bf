package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Guards the one session config block: every main, spec and probe
  * builds its session through `Harness.session`, so a new hand-built
  * session (which drifts from the others) fails here. `perfbench/`
  * keeps its own session and is not under `src/`.
  */
class SingleSessionSpec extends AnyFunSuite {

  test("the session builder is called only in Harness.scala") {
    val needle = "SparkSession" + ".builder"
    val root = Paths.get(sys.props("user.dir"), "src")
    assert(Files.isDirectory(root), s"$root is not a directory")
    import scala.jdk.CollectionConverters._
    val files = Files.walk(root)
    val holders =
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(f => new String(Files.readAllBytes(f), "ISO-8859-1").contains(needle))
        .map(f => root.relativize(f).toString).toList
      finally files.close()
    assert(holders == List("main/scala/graft/Harness.scala"),
      s"files building their own session: $holders")
  }
}
