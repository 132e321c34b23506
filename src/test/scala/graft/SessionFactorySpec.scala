package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every main builds its session through [[GraftSession]], so a profile,
  * a bench and a correctness dump cannot drift onto different configs;
  * and the engine is installed there once, never by a query
  * (`EntrySmokeSpec` checks that the session-built rules fire). */
class SessionFactorySpec extends AnyFunSuite {

  /** `src/main/scala` files (relative) other than `except` whose text
    * contains any of `needles`. */
  private def filesContaining(needles: Seq[String],
                              except: Set[String] = Set.empty): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val files = Files.walk(root)
    try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => !except(p.getFileName.toString))
      .filter { p => val text = Files.readString(p); needles.exists(text.contains) }
      .map(p => root.relativize(p).toString)
      .toList.sorted
    finally files.close()
  }

  test("SparkSession.builder appears in src/main/scala only in GraftSession.scala") {
    val offenders = filesContaining(Seq("SparkSession.builder"),
      except = Set("GraftSession.scala"))
    assert(offenders.isEmpty,
      s"build the session with GraftSession.local instead: ${offenders.mkString(", ")}")
  }

  test("no code in src/main/scala installs rules, strategies or functions at runtime") {
    // the bare member names: they also catch a call through a val
    val offenders = filesContaining(Seq("extraOptimizations",
      "extraStrategies", "createOrReplaceTempFunction"))
    assert(offenders.isEmpty,
      s"inject through GraftExtensions instead: ${offenders.mkString(", ")}")
  }
}
