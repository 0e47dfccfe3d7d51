/* Hosted under org.apache.spark.sql so the expression can use the
 * private[sql] Catalyst surface (ExpressionUtils for Expression↔Column
 * bridging) — the standard technique for out-of-tree Spark-native
 * expressions. */
package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash signature: ALL `numHashes` family minima over an
  * `array<long>` of shingle hashes in ONE pass, inside WholeStageCodegen.
  *
  * The higher-order-function formulation — `array((0..n).map(i =>
  * array_min(transform(sh, h => f_i(h)))))` — walks the shingle array once
  * PER FAMILY through interpreted lambda dispatch (HOFs never reach
  * codegen), and profiling showed it IS the dedup family's cost center:
  * 52 s for a 5,000-doc sf0.1 sketch, flat across JIT warmup, vs ~1.5 s
  * for the shingle hashing that feeds it. This expression is the loop a
  * native engine would write — sweep the family minima in registers per
  * element — and replaces a 64× interpreted array walk with one fused
  * primitive loop.
  *
  * The families are the engine-replayable affine permutations
  * sig_i = min((a_i·h + b_i) mod p) the DuckDB oracles re-derive,
  * bit-identical to the HOF form (lockstep-spec'd in MinHashSignatureSpec).
  *
  * Null semantics: a null input array and an empty (or all-null) input
  * array yield an array of `numHashes` null entries (array_min of nothing
  * is null), and the output itself is never null. Null ELEMENTS are
  * skipped, as the HOF form's array_min skips the null its transform
  * yields for them.
  */
case class MinHashSignature(
    child: Expression,
    numHashes: Int,
    affine: Seq[(Long, Long)],
    prime: Long) extends UnaryExpression {

  require(numHashes > 0, "numHashes must be positive")
  require(affine.length == numHashes,
    "affine params must have one (a, b) pair per hash family")

  // fail at ANALYSIS, not execution: getLong over a non-long array would
  // read garbage (array<int> slots are 4 bytes) or throw deep in a stage
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullable: Boolean = false

  override def prettyName: String = "minhash_signature"

  private lazy val aArr: Array[Long] = affine.map(_._1).toArray
  private lazy val bArr: Array[Long] = affine.map(_._2).toArray

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return new GenericArrayData(new Array[Any](numHashes))
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var any = false
    var j = 0
    while (j < m) {
      if (!arr.isNullAt(j)) {
        any = true
        val h = arr.getLong(j)
        var i = 0
        while (i < numHashes) {
          val x = (aArr(i) * h + bArr(i)) % prime
          if (x < mins(i)) mins(i) = x
          i += 1
        }
      }
      j += 1
    }
    if (!any) new GenericArrayData(new Array[Any](numHashes))
    else new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val mins = ctx.freshName("mins")
    val any = ctx.freshName("any")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val m = ctx.freshName("m")
    val h = ctx.freshName("h")
    val x = ctx.freshName("x")
    val gad = classOf[GenericArrayData].getName
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    ev.copy(isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral,
      code = code"""
        |${childGen.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value};
        |{
        |  long[] $mins = new long[$numHashes];
        |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
        |  boolean $any = false;
        |  if (!${childGen.isNull}) {
        |    int $m = ${childGen.value}.numElements();
        |    for (int $j = 0; $j < $m; $j++) {
        |      if (!${childGen.value}.isNullAt($j)) {
        |        $any = true;
        |        long $h = ${childGen.value}.getLong($j);
        |        for (int $i = 0; $i < $numHashes; $i++) {
        |          long $x = ($aRef[$i] * $h + $bRef[$i]) % ${prime}L;
        |          if ($x < $mins[$i]) $mins[$i] = $x;
        |        }
        |      }
        |    }
        |  }
        |  ${ev.value} = $any
        |    ? new $gad($mins)
        |    : new $gad(new Object[$numHashes]);
        |}
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** Column-API entry: the affine family `params` modulo `prime`. */
  def apply(shingleHashes: Column, numHashes: Int,
      params: Seq[(Long, Long)], prime: Long): Column =
    ExpressionUtils.column(MinHashSignature(
      ExpressionUtils.expression(shingleHashes), numHashes, params, prime))
}
