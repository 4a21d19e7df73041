package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature + LSH band keys in ONE pass: for pre-hashed
  * shingles, compute the `numHashes` splitmix64 signature lanes
  * ([[MinHashSigExpr]]'s exact mixing) and fold each band's lane run
  * into its 64-bit bucket key. Returns `bands` keys; band `b`'s key is
  * bit-identical to the column form it replaces,
  * `xxhash64(b, slice(sig, b·rows+1, rows))`: XxHash64 over
  * (int b, array<long> run) chains `XXH64.hashInt(b, seed=42)` then
  * `XXH64.hashLong(lane, acc)` per element — reproduced here via the
  * same `XXH64` primitives, so persisted bucket indexes and planted
  * recall floors are unchanged to the bit.
  *
  * Why a kernel: the column form referenced the signature expression
  * from inside a `transform` lambda, and HOF lambda bodies re-evaluate
  * per element — `bands` signature computations per row unless the
  * signature was materialized first. The mining paths paid a dedicated
  * eager localCheckpoint job per call just to pin the signature down;
  * this kernel removes both the re-evaluation hazard and the
  * materialization job.
  */
case class MinHashBandKeysExpr(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {
  require(numHashes % bands == 0, "numHashes must divide into bands evenly")

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "ARRAY<BIGINT> shingle hashes") { case ArrayType(LongType, _) => }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"
  override protected def withNewChildInternal(c: Expression): MinHashBandKeysExpr =
    copy(child = c)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(MinHashBandKeys.compute(
      a.asInstanceOf[ArrayData], numHashes, bands))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.MinHashBandKeys.compute($a, $numHashes, $bands));""".stripMargin)
}

object MinHashBandKeys {
  /** Signature lanes (splitmix64 over shingle hashes — MinHashSigExpr's
    * exact arithmetic) folded into per-band XxHash64 keys. */
  def compute(x: ArrayData, numHashes: Int, bands: Int): Array[Long] = {
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = x.numElements()
    var i = 0
    while (i < n) {
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
    val rows = numHashes / bands
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      // xxhash64(b, slice): int child then the run's long elements,
      // seed 42 — the XxHash64 expression's exact chaining
      var acc = XXH64.hashInt(b, 42L)
      var j = b * rows
      val end = j + rows
      while (j < end) { acc = XXH64.hashLong(sig(j), acc); j += 1 }
      keys(b) = acc
      b += 1
    }
    keys
  }
}

object MinHashBandKeysExpr {
  def apply(shingleHashes: Column, numHashes: Int, bands: Int): Column =
    bridge.column(MinHashBandKeysExpr(bridge.expression(shingleHashes),
      numHashes, bands))
}
