package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree._
import org.scalatest.funsuite.AnyFunSuite

/** Method-level reachability over compiled classes, read with the ASM
  * that Spark's ClosureCleaner ships (shaded as `org.apache.xbean.asm9`).
  *
  * Edges run from a reached method's body: method calls, the handles of
  * `invokedynamic` (lambda bodies and eta-expanded methods), `NEW` and
  * the other type instructions, field owners, class constants, caught
  * exception types, and string constants that spell a class name (the
  * form an encoder's TypeTag names its case class in). A reached
  * `object` counts only the methods something calls, plus its
  * initializer and the methods that override a supertype's (by name).
  * Any other reached class counts all its instance methods, because
  * Spark calls them virtually.
  */
object Reachability {

  /** Unreached public methods of reached objects, and top-level types
    * that no reached code names, each as `Name (File.scala)`.
    */
  case class Flags(methods: Seq[String], types: Seq[String])

  /** The classes under `dir` whose internal name starts with `prefix`. */
  def load(dir: Path, prefix: String): Map[String, ClassNode] =
    Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".class"))
      .map { f =>
        val n = new ClassNode()
        new ClassReader(Files.readAllBytes(f)).accept(n, ClassReader.SKIP_FRAMES)
        n
      }.filter(_.name.startsWith(prefix)).map(n => n.name -> n).toMap

  /** `graft/operators/Similarity$Foo$` reads `Similarity.Foo`. */
  def scalaName(internal: String): String =
    internal.substring(internal.lastIndexOf('/') + 1).stripSuffix("$").replace('$', '.')

  private def topLevel(internal: String): String = {
    val slash = internal.lastIndexOf('/') + 1
    internal.indexOf('$', slash) match {
      case -1 => internal
      case i => internal.take(i)
    }
  }

  /** Flags under `roots`: each root is a dotted name, either a type
    * (every public method of it is a root) or `type.method`.
    */
  def check(classes: Map[String, ClassNode], roots: Seq[String]): Flags =
    new Walk(classes).run(roots)

  private final class Walk(classes: Map[String, ClassNode]) {
    private def isModule(c: String) = classes.get(c).exists(n =>
      c.endsWith("$") && n.fields.asScala.exists(_.name == "MODULE$"))
    private def isStatic(m: MethodNode) = (m.access & Opcodes.ACC_STATIC) != 0
    private def methods(c: String) = classes(c).methods.asScala.toSeq
    private def supers(c: String): Seq[String] =
      classes.get(c).toSeq.flatMap(n => Option(n.superName).toSeq ++ n.interfaces.asScala)

    // a class constant as TypeTags and Class.forName spell it
    private val byString: Map[String, String] = classes.keys.flatMap(c =>
      Seq(c.replace('/', '.') -> c,
        c.stripSuffix("$").replace('/', '.').replace('$', '.') -> c)).toMap

    private val reached = mutable.Set[(String, String)]() // (owner, name + desc)
    private val whole = mutable.Set[String]()              // classes reached wholesale
    private val inited = mutable.Set[String]()             // objects reached
    private val named = mutable.Set[String]()              // types reached code names

    private val supertypeNames = mutable.Map[String, Set[String]]()

    /** Names of the methods that `c`'s proper supertypes declare. */
    private def inheritedNames(c: String): Set[String] = supertypeNames.getOrElseUpdate(c,
      supers(c).toSet.flatMap { s: String =>
        if (classes.contains(s)) methods(s).map(_.name).toSet ++ inheritedNames(s)
        else external(s)
      })

    private def external(s: String): Set[String] =
      Try(Class.forName(s.replace('/', '.'), false, getClass.getClassLoader)).toOption
        .toSet.flatMap { k: Class[_] =>
          Iterator.iterate[Class[_]](k)(_.getSuperclass).takeWhile(_ != null)
            .flatMap(x => x.getDeclaredMethods.iterator ++
              x.getInterfaces.iterator.flatMap(_.getMethods.iterator))
            .map(_.getName).toSet
        }

    def touch(c: String): Unit = if (classes.contains(c)) {
      named += c
      if (isModule(c)) initModule(c) else reachClass(c)
    }

    private def touchType(t: Type): Unit = t.getSort match {
      case Type.ARRAY => touchType(t.getElementType)
      case Type.OBJECT => touch(t.getInternalName)
      case _ =>
    }

    private def nameType(t: Type): Unit = t.getSort match {
      case Type.ARRAY => nameType(t.getElementType)
      case Type.OBJECT => named += t.getInternalName
      case _ =>
    }

    private def initModule(c: String): Unit = if (inited.add(c)) {
      supers(c).foreach(touch)
      val overrides = inheritedNames(c)
      methods(c).filter(m => m.name == "<clinit>" || m.name == "<init>" ||
        (!isStatic(m) && overrides(m.name))).foreach(visit(c, _))
    }

    private def reachClass(c: String): Unit = if (whole.add(c)) {
      supers(c).foreach(touch)
      methods(c).filter(m => !isStatic(m) || m.name == "<clinit>").foreach(visit(c, _))
    }

    /** The method `name` (of descriptor `desc`, or any when null) as
      * `owner` resolves it: declared there or inherited.
      */
    def reachMethod(owner: String, name: String, desc: String): Unit =
      if (classes.contains(owner)) {
        touch(owner)
        val own = methods(owner).filter(m => m.name == name && (desc == null || m.desc == desc))
        if (own.nonEmpty) own.foreach(visit(owner, _))
        else supers(owner).foreach(reachMethod(_, name, desc))
      }

    private def visit(owner: String, m: MethodNode): Unit =
      if (reached.add(owner -> (m.name + m.desc))) {
        val t = Type.getMethodType(m.desc)
        (t.getReturnType +: t.getArgumentTypes).foreach(nameType)
        m.tryCatchBlocks.asScala.flatMap(b => Option(b.`type`)).foreach(touch)
        m.instructions.iterator.asScala.foreach {
          case i: MethodInsnNode => reachMethod(i.owner, i.name, i.desc)
          case i: FieldInsnNode => touch(i.owner)
          case i: TypeInsnNode => touchType(Type.getObjectType(i.desc))
          case i: MultiANewArrayInsnNode => touchType(Type.getType(i.desc))
          case i: LdcInsnNode => constant(i.cst)
          case i: InvokeDynamicInsnNode =>
            constant(i.bsm); i.bsmArgs.foreach(constant)
          case _ =>
        }
      }

    private def constant(c: Any): Unit = c match {
      case t: Type if t.getSort == Type.METHOD => nameType(t.getReturnType)
      case t: Type => touchType(t)
      case h: Handle => reachMethod(h.getOwner, h.getName, h.getDesc)
      case s: String => byString.get(s).foreach(touch)
      case _ =>
    }

    /** A `final val` constant's accessor: scalac inlines the value at
      * every use, so no call to it is ever seen.
      */
    private def isConstant(m: MethodNode): Boolean = {
      val ops = m.instructions.iterator.asScala.filter(_.getOpcode >= 0).toSeq
      (m.access & Opcodes.ACC_FINAL) != 0 && m.desc.startsWith("()") && ops.size == 2 &&
        ops.head.getOpcode >= Opcodes.ACONST_NULL && ops.head.getOpcode <= Opcodes.LDC &&
        ops(1).getOpcode >= Opcodes.IRETURN && ops(1).getOpcode <= Opcodes.ARETURN
    }

    private def rootTypes(name: String): Seq[String] =
      Seq(name.replace('.', '/'), name.replace('.', '/') + "$").filter(classes.contains)

    def run(roots: Seq[String]): Flags = {
      roots.foreach { r =>
        rootTypes(r) match {
          case Seq() =>
            val (t, m) = r.splitAt(r.lastIndexOf('.'))
            val owners = rootTypes(t).filter(isModule)
            assert(owners.nonEmpty, s"root $r names no object")
            owners.foreach(reachMethod(_, m.drop(1), null))
          case ts => ts.foreach { c =>
            touch(c)
            methods(c).filter(m => !isStatic(m) &&
              (m.access & Opcodes.ACC_PUBLIC) != 0).foreach(visit(c, _))
          }
        }
      }
      def file(c: String) = Option(classes(c).sourceFile).getOrElse("?")
      // what scalac generates in a case class's companion
      val caseCompanion = Set("apply", "unapply", "toString")
      val methodFlags = inited.toSeq.flatMap { c =>
        val companionOfCase = classes.get(c.stripSuffix("$"))
          .exists(_.methods.asScala.exists(_.name == "productPrefix"))
        methods(c).filter(m => (m.access & Opcodes.ACC_PUBLIC) != 0 && !isStatic(m) &&
          (m.access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE)) == 0 &&
          !m.name.contains('$') && !m.name.startsWith("<") &&
          !(companionOfCase && caseCompanion(m.name)) && !isConstant(m) &&
          !reached(c -> (m.name + m.desc)))
          .map(m => s"${scalaName(c)}.${m.name} (${file(c)})")
      }.distinct.sorted
      val typeFlags = classes.keys.map(topLevel).toSeq.distinct
        .filterNot(t => named.exists(n => n == t || n.startsWith(t + "$")))
        .map(t => s"${scalaName(t)} (${file(classes.keys.filter(topLevel(_) == t).min)})")
        .sorted
      Flags(methodFlags, typeFlags)
    }
  }
}

/** CI gate for spec-only code at method level: every public method of a
  * reached `src/main` object, and every top-level type, is reached from
  * the registry, the Pipelines, the CLI mains or the benchmark harness.
  * Code that only specs call is wired into one of those or deleted with
  * its spec. Pure class-file check, no Spark session.
  */
class ReachabilitySpec extends AnyFunSuite {
  import Reachability._

  private def classDir(c: Class[_]) =
    Paths.get(c.getProtectionDomain.getCodeSource.getLocation.toURI)

  // The registry (`entry`, `queries`, `oracleSql`), the two Pipelines,
  // the CLI mains, the session builders and extensions, and PlanLint,
  // which PlanAuditSpec runs on every registered query.
  private val entryPoints = Seq(
    "graft.SparkEntry.entry", "graft.SparkEntry.queries", "graft.SparkEntry.oracleSql",
    "graft.Pipeline.run", "graft.Pipeline.runCuration", "graft.Pipeline.runStage",
    "graft.Verify.main", "graft.Plans.main",
    "graft.tools.RecallEval.main", "graft.tools.ScaleUp.main",
    "graft.GraftSession.builder", "graft.GraftSession.local",
    "graft.plans.GraftExtensions", "graft.plans.PlanLint")

  // Spec-only methods that stay, each for the reason given.
  private val allowed = Map(
    "Pipeline.runStageForTest" ->
      "test seam: PipelineSpec pins one stage's retry and alert behaviour",
    "Graph.graphTriangleEstimateAudit" ->
      "exact reference the triangle estimate's error bound is checked against",
    "Matching.tokenSortSim" ->
      "unbounded reference the bounded token similarity is checked against")

  /** Every `Obj.method` the benchmark harness names on a code line, as
    * a root in each object of that simple name.
    */
  private def benchRoots(classes: Map[String, ClassNode]): Seq[String] = {
    val ref = """\b([A-Z]\w*)\.(\w+)""".r
    val objects = classes.keys.filter(_.endsWith("$")).toSeq
      .groupBy(scalaName(_).split('.').last)
    Files.list(Paths.get("perfbench/src")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(f => Files.readAllLines(f).asScala.map(SourceCode.code))
      .flatMap(l => ref.findAllMatchIn(l).map(m => m.group(1) -> m.group(2)))
      .distinct.flatMap { case (o, m) =>
        objects.getOrElse(o, Nil).map(c => c.stripSuffix("$").replace('/', '.') + "." + m)
      }
  }

  test("every src/main method and type is reached from an entry point") {
    val classes = load(classDir(classOf[graft.Pipeline.type]), "")
    val roots = benchRoots(classes)
    assert(roots.contains("graft.PlanCache.consumersSeen"), roots)
    val flags = check(classes, entryPoints ++ roots)
    val methods = flags.methods.filterNot(m => allowed.contains(m.takeWhile(_ != ' ')))
    assert(methods.isEmpty && flags.types.isEmpty,
      "reached only by specs (wire into a query, Pipeline or main, or delete " +
        "with the spec):\n" + (methods ++ flags.types).mkString("\n"))
    val stale = allowed.keySet -- flags.methods.map(_.takeWhile(_ != ' '))
    assert(stale.isEmpty, s"allowlisted but reached or gone: $stale")
  }

  test("the check follows lambdas, overrides, strings and encoders") {
    val pkg = "graft/reachfixture/"
    val classes = load(classDir(classOf[graft.reachfixture.Entry.type]), pkg)
    val flags = check(classes, Seq("graft.reachfixture.Entry.main"))
    assert(flags == Flags(Seq("Lambdas.uncalled (Fixture.scala)"),
      Seq("Orphan (Fixture.scala)")))
  }
}
