package graft

import java.io.{ByteArrayInputStream, DataInputStream}
import java.nio.file.{Files, Path, Paths}
import org.apache.xbean.asm9.ClassReader
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every compiled `graft.*` class is reached, by class reference, from
  * one of the program's roots: the query families, the kept mains, the
  * session factory, and each `graft.*` name the daily-run benchmark
  * imports or loads by `format(...)`. A class that nothing reaches is
  * code that no query, main or daily run can execute; delete it.
  *
  * The walk is at class level over the compiled bytecode. A class
  * reaches every class its constant pool names: class and member
  * references, descriptors, and string constants such as
  * `format("graft.sources.KvCacheSink")`. A Scala object, its companion
  * and its nested and anonymous classes count as one unit. */
class ReachabilitySpec extends AnyFunSuite {

  private val kept = Seq("graft.Bench", "graft.Verify", "graft.tools.Profile",
    "graft.tools.ExplainAudit", "graft.tools.AbBench", "graft.GraftSession")

  /** Unreached units allowed to stay, each with its reason. */
  private val allowed: Map[String, String] = Map.empty

  private lazy val classesDir: Path =
    Paths.get(GraftSession.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)

  /** Internal class name → its unit (the name before the first `$`). */
  private def unitOf(internal: String): String = internal.takeWhile(_ != '$')

  /** Every `graft` unit → the units its class files name. */
  private lazy val graph: Map[String, Set[String]] = {
    assert(Files.isDirectory(classesDir.resolve("graft")),
      s"no compiled classes under $classesDir")
    val files = Files.walk(classesDir.resolve("graft"))
    val classes = try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".class")).toList
    finally files.close()
    val refs = classes.map { p =>
      val internal = classesDir.relativize(p).toString
        .stripSuffix(".class").replace(java.io.File.separatorChar, '/')
      unitOf(internal) -> namesIn(Files.readAllBytes(p))
    }
    val units = refs.map(_._1).toSet
    // a name resolves to the unit of its longest prefix that is one
    def resolve(name: String): Option[String] =
      Iterator.iterate(name)(n => n.take(n.lastIndexOf('/')))
        .takeWhile(_.contains('/')).map(unitOf).find(units)
    refs.groupMapReduce(_._1)(r => r._2.flatMap(resolve))(_ ++ _)
      .map { case (u, rs) => u -> (rs - u) }
  }

  // a dotted or internal name, or a descriptor's `Lgraft/...;`
  private val GraftName = """(?<![\w.$/])L?graft[./][\w$./]+""".r

  /** `graft` names in a class's UTF-8 constants, slash-separated. */
  private def namesIn(bytes: Array[Byte]): Set[String] = {
    val reader = new ClassReader(bytes)
    (1 until reader.getItemCount).flatMap { i =>
      val offset = reader.getItem(i)
      if (offset > 0 && bytes(offset - 1) == 1) { // CONSTANT_Utf8
        val utf = new DataInputStream(
          new ByteArrayInputStream(bytes, offset, bytes.length - offset)).readUTF()
        GraftName.findAllIn(utf).map(_.stripPrefix("L").replace('.', '/'))
      } else Iterator.empty
    }.toSet
  }

  /** `graft.*` names that the `.scala` files in `dailybench/src/dailybench`
    * import or pass to `format(...)`, read from that source. */
  private lazy val dailyNames: Set[String] = {
    val dir = Paths.get("dailybench/src/dailybench")
    assert(Files.isDirectory(dir), s"run from the project root: $dir")
    val files = Files.list(dir)
    val texts = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).toList
    finally files.close()
    val Import = """(?m)^\s*import\s+graft\.([\w.]+?)(?:\.\{([^}]*)\})?\s*$""".r
    val Format = """format\("(graft\.[\w.]+)"\)""".r
    texts.flatMap { t =>
      Import.findAllMatchIn(t).flatMap { m =>
        Option(m.group(2)) match {
          case Some(sel) => sel.split(',').map(_.trim.split("\\s*=>")(0))
              .map(n => s"graft.${m.group(1)}.$n")
          case None => Seq(s"graft.${m.group(1)}")
        }
      } ++ Format.findAllMatchIn(t).map(_.group(1))
    }.toSet
  }

  private def roots: Set[String] = {
    val families = graph.keySet.filter(u =>
      u.startsWith("graft/queries/") && u.endsWith("Queries"))
    assert(families.nonEmpty, "no query family objects found")
    assert(dailyNames.nonEmpty, "no graft names found in dailybench")
    val named = (kept ++ dailyNames).map(_.replace('.', '/'))
    val missing = named.filterNot(graph.contains)
    assert(missing.isEmpty, s"roots that are not compiled units: ${missing.mkString(", ")}")
    families ++ named
  }

  private def unreached: Set[String] = {
    val seen = scala.collection.mutable.Set[String]()
    var frontier = roots
    while (frontier.nonEmpty) {
      seen ++= frontier
      frontier = frontier.flatMap(graph.getOrElse(_, Set.empty)).diff(seen)
    }
    graph.keySet.diff(seen).map(_.replace('/', '.'))
  }

  test("every graft class is reached from a query family, a kept main, " +
       "the session factory or the daily run") {
    val dead = unreached.diff(allowed.keySet).toSeq.sorted
    if (dead.nonEmpty)
      fail(s"${dead.size} classes nothing reaches: ${dead.mkString(", ")}")
  }

  test("every allowlisted class is still unreached and still compiled") {
    val stale = allowed.keySet.filterNot(unreached).toSeq.sorted
    if (stale.nonEmpty) fail(s"allowlist entries to drop: ${stale.mkString(", ")}")
  }

  test("the walk follows class references and string-named classes") {
    assert(dailyNames.contains("graft.sources.KvCacheSink")) // a format(...) name
    assert(dailyNames.contains("graft.ingest.StagingReader")) // an import
    // GraftSession installs the extensions; families reach the registry
    assert(graph("graft/GraftSession").contains("graft/GraftExtensions"))
    assert(graph("graft/queries/WarehouseQueries").contains("graft/queries/QuerySpec"))
  }
}
