package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{BitsetIntersectExpr, DotProductExpr}

/** SparkSessionExtensions entry point: makes the native expressions
  * available from SQL (`SELECT graft_dot(a, b)`) and installs a
  * small algebraic optimizer rule. Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotFn)
    ext.injectFunction(GraftExtensions.bitsetFn)
    ext.injectFunction(GraftExtensions.hexFn)
    ext.injectFunction(GraftExtensions.scatterFn)
    ext.injectFunction(GraftExtensions.jaroFn)
    ext.injectFunction(GraftExtensions.kmvFn)
    ext.injectFunction(GraftExtensions.hllFn)
    ext.injectFunction(GraftExtensions.simhashFn)
    ext.injectOptimizerRule(_ => SelfDotToNormSquared)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPlannerStrategy(_ => AsofStrategy)
  }
}

object GraftExtensions {

  /** Post-hoc installation into an existing session (getOrCreate
    * ignores spark.sql.extensions once a session exists — e.g. in a
    * shared test JVM or a notebook). Idempotent.
    */
  def registerInto(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.graftshim.GraftShim
    Seq(dotFn, bitsetFn, hexFn, scatterFn, jaroFn, kmvFn, hllFn, simhashFn).foreach { case (id, i, b) =>
      GraftShim.registerFunction(spark, id, i, b)
    }
    if (!spark.experimental.extraOptimizations.contains(SelfDotToNormSquared)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SelfDotToNormSquared
    }
    if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    }
    if (!spark.experimental.extraStrategies.contains(AsofStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofStrategy
    }
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[DotProductExpr].getName, null, name, usage, "")

  val dotFn: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("graft_dot"),
    info("graft_dot", "graft_dot(a, b) - dot product of two array<double>"),
    (args: Seq[Expression]) => DotProductExpr(args(0), args(1)))

  val bitsetFn: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("graft_bitset_inter"),
    info("graft_bitset_inter", "graft_bitset_inter(a, b) - popcount of AND of two array<bigint> bitsets"),
    (args: Seq[Expression]) => BitsetIntersectExpr(args(0), args(1)))

  val hexFn: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("graft_hex_long"),
    info("graft_hex_long", "graft_hex_long(s, n) - first n hex chars of s parsed as a BIGINT"),
    (args: Seq[Expression]) => args(1) match {
      case Literal(d: Int, _) => graft.functions.HexPrefixLongExpr(args(0), d)
      case other => sys.error(s"graft_hex_long digits must be an int literal, got $other")
    })

  val scatterFn: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("graft_dense_scatter"),
    info("graft_dense_scatter",
      "graft_dense_scatter(indices, values, n) - scatter 1-based (index, value) pairs into a dense array<double> of length n"),
    (args: Seq[Expression]) => args(2) match {
      // validate at resolution time: a negative n would throw
      // NegativeArraySizeException per ROW at eval, and a huge n
      // allocates an n-double array per row — both are plan bugs the
      // user should see once, up front, with the offending value
      case Literal(n: Int, _) if n > 0 && n <= DenseScatterMaxLen =>
        graft.functions.DenseScatterExpr(args(0), args(1), n)
      case Literal(n: Int, _) => sys.error(
        s"graft_dense_scatter length must be in (0, $DenseScatterMaxLen], got $n")
      case other => sys.error(s"graft_dense_scatter length must be an int literal, got $other")
    })

  val jaroFn: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("graft_jaro_winkler"),
    info("graft_jaro_winkler",
      "graft_jaro_winkler(a, b) - Jaro-Winkler similarity (DuckDB-pinned semantics)"),
    (args: Seq[Expression]) => graft.functions.JaroWinklerExpr(args(0), args(1)))

  val kmvFn: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("graft_kmv_distinct"),
    info("graft_kmv_distinct",
      "graft_kmv_distinct(hash, k) - KMV approximate distinct count over BIGINT hashes (bounded k-long sketch state)"),
    (args: Seq[Expression]) => args(1) match {
      case Literal(k: Int, _) if k > 1 && k <= 65536 =>
        graft.functions.KmvSketchAgg(args(0), k)
      case Literal(k: Int, _) => sys.error(
        s"graft_kmv_distinct k must be in (1, 65536], got $k")
      case other => sys.error(s"graft_kmv_distinct k must be an int literal, got $other")
    })

  val hllFn: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("graft_hll_distinct"),
    info("graft_hll_distinct",
      "graft_hll_distinct(hash) - HLL(p=8) approximate distinct count over 56-bit graft_hex_long(md5(x), 14) hashes (256-byte register state)"),
    (args: Seq[Expression]) => graft.functions.HllSketchAgg(args(0)))

  val simhashFn: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("graft_simhash64"),
    info("graft_simhash64",
      "graft_simhash64(tokens) - 64-bit SimHash of an array<string> as a BIGINT (near-dups differ in few bits)"),
    (args: Seq[Expression]) => graft.functions.SimHash64Expr(args(0)))

  /** Hard cap on the per-row dense array (4M doubles = 32 MB/row) —
    * anything wider is a mis-sized vocabulary, not a real vector.
    */
  val DenseScatterMaxLen: Int = 1 << 22
}

/** graft_dot(x, x) ≡ Σx², which the same loop computes without the
  * second array read — a tiny demo of operator-specific algebra the
  * built-in optimizer can't know about.
  */
object SelfDotToNormSquared extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case DotProductExpr(a, b) if a.semanticEquals(b) && a.deterministic =>
        SelfDotExpr(a)
    }
}

/** Σx² over one array — single-operand specialization of
  * [[DotProductExpr]] produced by [[SelfDotToNormSquared]].
  */
case class SelfDotExpr(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<double>, got ${other.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_self_dot"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var k = 0
    while (k < x.numElements()) { val d = x.getDouble(k); s += d * d; k += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |double s = 0.0;
         |for (int k = 0; k < $a.numElements(); k++) {
         |  double d = $a.getDouble(k); s += d * d;
         |}
         |${ev.value} = s;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
