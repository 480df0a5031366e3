package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Production 64-bit SimHash over a token array, as a native
  * expression: one pass per row, no explode, no shuffle — each
  * token hashes to 64 bits and votes ±1 per bit position; the sign
  * vector packs into one BIGINT. Near-duplicate candidates are rows
  * whose simhashes differ in ≤ k bits. Registered as the SQL
  * function `graft_simhash64` (graft.plans.GraftExtensions).
  *
  * The 16-bit md5-nibble variant in operators.Dedup.dedupSimhash
  * stays the DuckDB-checkable form; this one is the scale path
  * (cheaper hash, full 64-bit signature).
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    SimHash64.ofTokens(new Iterator[String] {
      private var k = 0
      def hasNext: Boolean = k < arr.numElements()
      def next(): String = { val s = arr.getUTF8String(k).toString; k += 1; s }
    })
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |int[] votes = new int[64];
         |for (int k = 0; k < $a.numElements(); k++) {
         |  long h = graft.functions.SimHash64.fmix64(
         |    (long) $a.getUTF8String(k).toString().hashCode());
         |  for (int b = 0; b < 64; b++) {
         |    votes[b] += ((h >>> b) & 1L) == 1L ? 1 : -1;
         |  }
         |}
         |long sig = 0L;
         |for (int b = 0; b < 64; b++) { if (votes[b] > 0) sig |= (1L << b); }
         |${ev.value} = sig;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {

  /** murmur-style 64-bit finalizer — cheap, well-mixed, deterministic. */
  def fmix64(in: Long): Long = {
    var h = in
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Reference implementation used by the interpreted path and tests;
    * must stay in lockstep with the generated code above.
    */
  def ofTokens(tokens: Iterator[String]): Long = {
    val votes = new Array[Int](64)
    while (tokens.hasNext) {
      val h = fmix64(tokens.next().hashCode.toLong)
      var b = 0
      while (b < 64) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}
