package graft

import java.io.{ByteArrayInputStream, DataInputStream}
import java.nio.file.{Files, Path, Paths}
import org.apache.xbean.asm9.ClassReader
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every compiled `graft.*` class, and every public method of a `graft`
  * object, is reached from one of the program's roots: the query
  * families, the kept mains, the session factory, and what the daily-run
  * benchmark imports, calls or loads by `format(...)`. Code that nothing
  * reaches is code that no query, main or daily run can execute; delete
  * it. A defaulted parameter that no caller passes is a setting with one
  * value in use; make it a constant.
  *
  * The class walk reads the compiled constant pools. A class reaches
  * every class its constant pool names: class and member references,
  * descriptors, and string constants such as
  * `format("graft.sources.KvCacheSink")`. A Scala object, its companion
  * and its nested and anonymous classes count as one unit. The method
  * walk is [[CallGraph]]'s; the benchmark's calls and named arguments are
  * read from its source. */
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

  /** The `.scala` sources in `dailybench/src/dailybench`. */
  private lazy val dailyTexts: List[String] = {
    val dir = Paths.get("dailybench/src/dailybench")
    assert(Files.isDirectory(dir), s"run from the project root: $dir")
    val files = Files.list(dir)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).toList
    finally files.close()
  }

  /** `graft.*` names that the daily-run sources import or pass to
    * `format(...)`. */
  private lazy val dailyNames: Set[String] = {
    val texts = dailyTexts
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

  // ------------------------------------------------------ method level

  /** Public object methods allowed to stay unreached, each with its
    * reason. */
  private val allowedMethods: Map[String, String] = Map(
    "graft.ingest.StagingReader.readStagedSafe" ->
      "quarantines malformed staging files, input from outside the program",
    "graft.ingest.StagingReader.writeStaged" ->
      "the staging write that ROADMAP item 2 routes the daily run through",
    "graft.SparkEntry.entry" -> "the smoke entry an outside harness calls by name")

  private lazy val testClassesDir: Path =
    Paths.get(classOf[ReachabilitySpec].getProtectionDomain.getCodeSource.getLocation.toURI)

  private lazy val program = CallGraph.load(Seq(classesDir), Seq("graft/"))
  private lazy val withTests =
    CallGraph.load(Seq(classesDir, testClassesDir).distinct, Seq("graft/"))

  /** One call in the daily-run source: `Obj.method(args)` or
    * `Obj(args)` on an imported `graft` object, with its positional
    * argument count and its named arguments. */
  private case class SourceCall(owner: String, method: String,
                                positional: Int, named: Set[String])

  private lazy val dailyCalls: Seq[SourceCall] = {
    val objects = dailyNames.map(_.replace('.', '/') + "$").filter(program.classes.contains)
    val Named = """(?s)^\s*(\w+)\s*=(?![=>]).*""".r
    // comments name methods the code does not call
    val code = dailyTexts.map(_.replaceAll("""(?s)/\*.*?\*/""", "")
      .replaceAll("""(?m)(^|\s)//.*$""", "$1"))
    for {
      t <- code
      o <- objects.toSeq
      simple = o.stripSuffix("$").split('/').last
      m <- s"\\b$simple(?:\\.(\\w+))?\\s*(\\()?".r.findAllMatchIn(t).toSeq
      if m.group(1) != null || m.group(2) != null
    } yield {
      val args = if (m.group(2) == null) Nil else topLevelArgs(t, m.end - 1)
      val named = args.collect { case Named(n) => n }
      SourceCall(o, Option(m.group(1)).getOrElse("apply"), args.size - named.size, named.toSet)
    }
  }

  /** The top-level comma-separated arguments of the parenthesised list
    * that opens at `open`. */
  private def topLevelArgs(t: String, open: Int): Seq[String] = {
    val args = Seq.newBuilder[String]
    var depth = 0; var i = open; var start = open + 1; var inString = false
    while (i < t.length && !(depth == 1 && !inString && t(i) == ')')) {
      val c = t(i)
      if (inString) { if (c == '\\') i += 1 else if (c == '"') inString = false }
      else if (c == '\'' && i + 2 < t.length && t(i + 2) == '\'') i += 2 // a char literal
      else if (c == '"') inString = true
      else if ("([{".contains(c)) depth += 1
      else if (")]}".contains(c)) depth -= 1
      else if (c == ',' && depth == 1) { args += t.substring(start, i); start = i + 1 }
      i += 1
    }
    val last = t.substring(start, i)
    (args.result() ++ Seq(last).filter(_.trim.nonEmpty)).toSeq
  }

  private def methodRootUnit(u: String): Boolean =
    (u.startsWith("graft/queries/") && u.endsWith("Queries")) ||
      kept.map(_.replace('.', '/')).contains(u)

  private lazy val unreachedMethods: Set[String] = {
    val reached = program.reach(program.roots(methodRootUnit) ++
      dailyCalls.map(c => CallGraph.Ref(c.owner, c.method, null)))
    assert(reached.exists(r => r.owner == "graft/extract/Extractor$" && r.name == "run"),
      "the daily run's calls did not resolve")
    program.modules.filterNot(c => methodRootUnit(c.name.takeWhile(_ != '$'))).flatMap { c =>
      val inherited = program.inheritedNames(c)
      program.publicMethods(c).filterNot(m => inherited(m.name) ||
          reached(CallGraph.Ref(c.name, m.name, m.desc)))
        .map(m => s"${CallGraph.display(c.name)}.${m.name}")
    }.toSet
  }

  test("every public method of a graft object is reached from a query " +
       "family, a kept main, the session factory or the daily run") {
    val dead = unreachedMethods.diff(allowedMethods.keySet).toSeq.sorted
    if (dead.nonEmpty)
      fail(s"${dead.size} methods nothing calls: ${dead.mkString(", ")}")
    val stale = allowedMethods.keySet.diff(unreachedMethods).toSeq.sorted
    if (stale.nonEmpty) fail(s"method allowlist entries to drop: ${stale.mkString(", ")}")
  }

  test("every defaulted parameter of a graft object method is passed by " +
       "some caller in the program, the tests or the daily run") {
    val params = program.modules.flatMap(program.defaulted)
    assert(params.exists(p => p.owner == "graft/vector/HnswIndex$" && p.name == "params"),
      "no defaulted parameters found")
    val unset = params.filterNot(p => withTests.passedByCode(p) || dailyCalls.exists(c =>
      c.owner == p.owner && c.method == p.method &&
        (c.positional >= p.index || c.named(p.name))))
    if (unset.nonEmpty)
      fail(s"${unset.size} parameters no caller passes: ${unset.map(_.toString).sorted.mkString(", ")}")
  }
}
