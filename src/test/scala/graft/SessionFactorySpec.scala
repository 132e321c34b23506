package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every main builds its session through [[GraftSession]], so a profile,
  * a bench and a correctness dump cannot drift onto different configs. */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkSession.builder appears in src/main/scala only in GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val files = Files.walk(root)
    val offenders = try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => p.getFileName.toString != "GraftSession.scala")
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString)
      .toList.sorted
    finally files.close()
    assert(offenders.isEmpty,
      s"build the session with GraftSession.local instead: ${offenders.mkString(", ")}")
  }
}
