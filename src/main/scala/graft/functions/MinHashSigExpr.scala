package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature from pre-hashed shingles, one pass of `compute`
  * ([[MinHashSigExpr]]'s interpreted and generated paths both call it).
  *
  * Each shingle is string-hashed ONCE upstream (xxhash64); the `numHashes`
  * signature lanes come from a splitmix64 finalizer over (shingleHash +
  * lane·φ64) — an independent-enough hash family at a few ALU ops per
  * lane, so the kernel does shingles × lanes integer mixing instead of
  * shingles × lanes string hashing (the difference between 23 s and
  * sub-second on the 5k-doc corpus).
  */
object MinHashSig {
  def compute(x: ArrayData, numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < x.numElements()) {
      val h = x.getLong(i)
      var lane = 0
      while (lane < numHashes) {
        var z = h + (lane + 1) * -7046029254386353131L // φ64 = 0x9E3779B97F4A7C15
        z = (z ^ (z >>> 30)) * -4658895280553007687L   // 0xBF58476D1CE4E5B9
        z = (z ^ (z >>> 27)) * -7723592293110705685L   // 0x94D049BB133111EB
        z = z ^ (z >>> 31)
        if (z < sig(lane)) sig(lane) = z
        lane += 1
      }
      i += 1
    }
    sig
  }
}

case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "ARRAY<BIGINT> shingle hashes") { case ArrayType(LongType, _) => }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(MinHashSig.compute(a.asInstanceOf[ArrayData], numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.MinHashSig.compute($a, $numHashes));""".stripMargin)
}

object MinHashSigExpr {
  def apply(shingleHashes: Column, numHashes: Int): Column =
    bridge.column(MinHashSigExpr(bridge.expression(shingleHashes), numHashes))
}
