package graft

import java.nio.file.{Files, Path}
import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A method-level call graph over compiled class files.
  *
  * A method's edges are the methods it invokes, the members whose fields
  * it reads or writes (a field read reaches the val accessor of the same
  * name) and the implementation of each lambda it creates, resolved
  * through the `invokedynamic` bootstrap handle, so a lambda body belongs
  * to the method that creates it. A call resolves to the declaration up
  * the compiled supertypes and to every compiled override below it.
  * Using any member of a class runs its static initialiser; using any
  * member of an object also runs its constructor. */
final class CallGraph(val classes: Map[String, ClassNode]) {
  import CallGraph._

  def isModule(c: ClassNode): Boolean = c.name.endsWith("$") &&
    c.fields.asScala.exists(f => f.name == "MODULE$" && (f.access & Opcodes.ACC_STATIC) != 0)

  def modules: Seq[ClassNode] = classes.values.filter(isModule).toSeq.sortBy(_.name)

  private def supers(c: ClassNode): Seq[String] =
    Option(c.superName).toSeq ++ c.interfaces.asScala

  private lazy val subclasses: Map[String, Seq[ClassNode]] =
    classes.values.toSeq.flatMap(c => supers(c).map(_ -> c)).groupMap(_._1)(_._2)

  private val belowMemo = mutable.Map[String, Seq[ClassNode]]()
  private def below(owner: String): Seq[ClassNode] = belowMemo.getOrElseUpdate(owner, {
    val direct = subclasses.getOrElse(owner, Nil)
    direct ++ direct.flatMap(c => below(c.name))
  })

  /** The methods of `owner` named `name` (of descriptor `desc`, when it
    * is given), else those of the nearest compiled supertype. */
  private def declared(owner: String, name: String, desc: String): Seq[Ref] =
    classes.get(owner).toSeq.flatMap { c =>
      val own = c.methods.asScala.filter(m =>
        m.name == name && (desc == null || m.desc == desc)).map(m => Ref(owner, m.name, m.desc))
      if (own.nonEmpty) own.toSeq else supers(c).flatMap(declared(_, name, desc))
    }

  /** The compiled methods a reference may run. A field reference resolves
    * by name to the accessor of that field. */
  private def targets(r: Ref): Seq[Ref] = if (!classes.contains(r.owner)) Nil else {
    val up = declared(r.owner, r.name, r.desc)
    val found = if (up.isEmpty && r.desc != null) declared(r.owner, r.name, null) else up
    found ++ below(r.owner).flatMap(c => c.methods.asScala.collect {
      case m if m.name == r.name && (r.desc == null || m.desc == r.desc) => Ref(c.name, m.name, m.desc)
    })
  }

  /** Every method a reference or a use of its class runs, one step on.
    * Constructing an anonymous class reaches all its methods, which the
    * engine calls through its supertype. */
  private def step(r: Ref): Seq[Ref] = {
    val inits = classes.get(r.owner).toSeq.flatMap(c => c.methods.asScala.collect {
      case m if m.name == "<clinit>" || (m.name == "<init>" && isModule(c)) ||
        (r.name == "<init>" && c.name.contains("$anon")) => Ref(c.name, m.name, m.desc)
    })
    method(r).toSeq.flatMap(refsIn).flatMap(targets) ++ inits
  }

  private def method(r: Ref): Option[MethodNode] =
    classes.get(r.owner).flatMap(_.methods.asScala.find(m => m.name == r.name && m.desc == r.desc))

  /** Every method reached from `roots`. */
  def reach(roots: Iterable[Ref]): Set[Ref] = {
    val seen = mutable.Set[Ref]()
    var frontier = roots.flatMap(r => if (method(r).isDefined) Seq(r) else targets(r)).toSet
    while (frontier.nonEmpty) {
      seen ++= frontier
      frontier = frontier.flatMap(step).diff(seen)
    }
    seen.toSet
  }

  /** A static forwarder: the method a companion class gets for each
    * method of its object, which only calls that method. */
  private def isForwarder(c: ClassNode, m: MethodNode): Boolean =
    (m.access & Opcodes.ACC_STATIC) != 0 && classes.get(c.name + "$").exists(o =>
      isModule(o) && o.methods.asScala.exists(om => om.name == m.name && om.desc == m.desc &&
        (om.access & Opcodes.ACC_STATIC) == 0))

  /** Whether an object is the companion of a case class; its `apply`,
    * `unapply` and `toString` are synthetic. */
  private def isCaseCompanion(c: ClassNode): Boolean =
    classes.get(c.name.stripSuffix("$")).exists(_.methods.asScala.exists(_.name == "productPrefix"))

  /** The method names an object inherits from supertypes outside the
    * compiled set (`apply`/`isDefinedAt` from `PartialFunction`, say);
    * a library calls those, not the program. */
  def inheritedNames(c: ClassNode): Set[String] = supers(c).toSet.flatMap { (s: String) =>
    classes.get(s) match {
      case Some(sc) => inheritedNames(sc)
      case None =>
        try {
          val k = Class.forName(s.replace('/', '.'), false, getClass.getClassLoader)
          (k.getMethods ++ Iterator.iterate[Class[_]](k)(_.getSuperclass).takeWhile(_ != null)
            .flatMap(_.getDeclaredMethods)).map(_.getName).toSet
        } catch { case _: ClassNotFoundException | _: LinkageError => Set.empty[String] }
    }
  }

  /** The public methods declared in the source of object `c`: no
    * constructors, lambdas, default getters or compiler-expanded names. */
  def publicMethods(c: ClassNode): Seq[MethodNode] = {
    val synthetic = if (isCaseCompanion(c)) CaseCompanionMembers else Set.empty[String]
    c.methods.asScala.toSeq.filter(m =>
      (m.access & Opcodes.ACC_PUBLIC) != 0 &&
      (m.access & (Opcodes.ACC_STATIC | Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE)) == 0 &&
      !m.name.contains('$') && !m.name.startsWith("<") &&
      !synthetic(m.name) && !SerialMembers(m.name))
  }

  /** Every defaulted parameter of object `c`'s methods, with the
    * overloads it belongs to: `m$default$N` is the default of parameter N
    * of the overload of `m` whose N-th parameter has its type. */
  def defaulted(c: ClassNode): Seq[Param] = c.methods.asScala.toSeq.flatMap { g =>
    g.name match {
      case DefaultGetter(m, n) if m != "$lessinit$greater" && !(m == "apply" && isCaseCompanion(c)) =>
        val i = n.toInt
        val candidates = c.methods.asScala.toSeq.filter(o => o.name == m &&
          (o.access & Opcodes.ACC_STATIC) == 0 && Type.getArgumentTypes(o.desc).length >= i)
        val typed = candidates.filter(o =>
          Type.getArgumentTypes(o.desc)(i - 1) == Type.getReturnType(g.desc))
        val overloads = if (typed.nonEmpty) typed else candidates
        overloads.headOption.map(o => Param(c.name, m, overloads.map(_.desc).toSet, i, paramName(o, i)))
      case _ => None
    }
  }

  /** Per calling method (static forwarders left out), how often it
    * invokes each method of an object. */
  private lazy val callCounts: Seq[(Ref, Map[Ref, Int])] = classes.values.toSeq.flatMap { c =>
    c.methods.asScala.toSeq.filterNot(isForwarder(c, _)).map { m =>
      Ref(c.name, m.name, m.desc) -> m.instructions.iterator().asScala.collect {
        case i: MethodInsnNode if i.owner.endsWith("$") => Ref(i.owner, i.name, i.desc)
      }.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    }
  }

  /** Whether some method outside `p`'s own body passes parameter `p`:
    * it calls `p`'s method more often than that parameter's default. */
  def passedByCode(p: Param): Boolean = callCounts.exists { case (caller, counts) =>
    val own = caller.owner == p.owner &&
      (caller.name == p.method || caller.name.startsWith(s"$$anonfun$$${p.method}$$"))
    def count(name: String, desc: String => Boolean) = counts.collect {
      case (r, n) if r.owner == p.owner && r.name == name && desc(r.desc) => n
    }.sum
    !own && count(p.method, p.descs) > count(s"${p.method}$$default$$${p.index}", _ => true)
  }

  /** The methods the program starts from: every method of a root unit
    * (a class with its nested and anonymous classes), every method of a
    * named non-object class, which the engine calls through its
    * supertypes (static forwarders left out: nothing calls them), and the
    * methods an object inherits from outside the compiled set. An
    * anonymous class is reached only through its constructor. */
  def roots(rootUnit: String => Boolean): Seq[Ref] = classes.values.toSeq.flatMap { c =>
    val ms = c.methods.asScala.toSeq
    val starts =
      if (rootUnit(c.name.takeWhile(_ != '$'))) ms
      else if (isModule(c)) { val inherited = inheritedNames(c); ms.filter(m => inherited(m.name)) }
      else if (c.name.contains("$anon")) Nil
      else ms.filterNot(isForwarder(c, _))
    starts.map(m => Ref(c.name, m.name, m.desc))
  }
}

object CallGraph {
  /** A method by owner (internal name), name and descriptor; a field
    * reference has no descriptor. */
  final case class Ref(owner: String, name: String, desc: String)

  /** Parameter `index` (1-based) named `name` of method `method` of
    * object `owner`, whose overloads with that default have `descs`. */
  final case class Param(owner: String, method: String, descs: Set[String], index: Int, name: String) {
    override def toString: String = s"${display(owner)}.$method($name)"
  }

  private val DefaultGetter = """(.+)\$default\$(\d+)""".r
  private val CaseCompanionMembers = Set("apply", "unapply", "toString")
  private val SerialMembers = Set("readResolve", "writeReplace")

  /** `graft/x/Foo$Bar$` → `graft.x.Foo.Bar`. */
  def display(internal: String): String =
    internal.stripSuffix("$").replace('/', '.').replace('$', '.')

  /** The name of parameter `i` (1-based) of instance method `m`, from its
    * local-variable table. */
  private def paramName(m: MethodNode, i: Int): String = {
    val slot = 1 + Type.getArgumentTypes(m.desc).take(i - 1).map(_.getSize).sum
    Option(m.localVariables).flatMap(_.asScala.find(_.index == slot)).map(_.name).getOrElse(s"#$i")
  }

  /** The members a method's code names: calls, field accesses and lambda
    * implementations. */
  private def refsIn(m: MethodNode): Seq[Ref] = m.instructions.iterator().asScala.toSeq.flatMap {
    case i: MethodInsnNode => Seq(Ref(i.owner, i.name, i.desc))
    case i: FieldInsnNode => Seq(Ref(i.owner, i.name, null))
    case i: InvokeDynamicInsnNode if i.bsm.getOwner == "java/lang/invoke/LambdaMetafactory" =>
      i.bsmArgs.toSeq.collect { case h: Handle => Ref(h.getOwner, h.getName, h.getDesc) }
    case i: LdcInsnNode => i.cst match {
      case h: Handle => Seq(Ref(h.getOwner, h.getName, h.getDesc))
      case _ => Nil
    }
    case _ => Nil
  }

  /** The classes under `dirs` whose internal names start with one of
    * `prefixes`. */
  def load(dirs: Seq[Path], prefixes: Seq[String]): CallGraph = {
    val nodes = dirs.flatMap { dir =>
      val files = Files.walk(dir)
      try files.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".class")).toList
      finally files.close()
    }.map { p =>
      val node = new ClassNode()
      new ClassReader(Files.readAllBytes(p)).accept(node, ClassReader.SKIP_FRAMES)
      node
    }.filter(n => prefixes.exists(n.name.startsWith))
    new CallGraph(nodes.map(n => n.name -> n).toMap)
  }
}
