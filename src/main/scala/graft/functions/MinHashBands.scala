package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Fused MinHash band keys — ONE pass over the hashed-gram array
  * computing all `numHashes` signature minima and folding them into
  * `numHashes / rowsPerBand` 64-bit band keys: the [[graft.ext.Dedup]]
  * near-dup gate's one band-key kernel. Build and serve share it — the
  * batch blocklist `Dedup.minhashBandKeys` explodes it per corpus
  * document, the ingest gates probe it per row — so the two halves of
  * the gate cannot hash differently.
  *
  * BIT-IDENTICAL to the unfused column recipe it replaces —
  * `array_min(transform(hs, h => xxhash64(h, lit(k))))` per k, then
  * `xxhash64(lit(b), mins…)` per band (and to `numHashes` `min`
  * aggregates over one row per shingle followed by that band hash, the
  * reference `GraftProps` checks the blocklist against) — by replaying
  * Spark's own XxHash64 fold: seed 42,
  * null children skipped, `hashLong` then `hashInt` in child order.
  * The replaced form was 128 `HigherOrderFunction` passes per row,
  * each interpreted per element AND allocating an intermediate array
  * (measured: the near-dup gate ran 3.5× the cost of every other
  * ingest gate on the round-16 sf1 gate-stack soak, bottlenecking the
  * whole chain); here the per-element inner hash `hashLong(h, 42)` is
  * also computed once instead of once per k — the fold's first step
  * never depended on k.
  *
  * Null gram array (null text) → null. EMPTY gram array (doc shorter
  * than the gram width) → each band key hashes only its band index —
  * exactly what the unfused fold produced when every `array_min`
  * came back null and xxhash64 skipped it. */
object MinHashBands {
  def bandKeysCol(hashedGrams: Column, numHashes: Int, rowsPerBand: Int): Column =
    Bridge.column(MinHashBandKeys(
      Bridge.expression(hashedGrams), numHashes, rowsPerBand))

  /** The kernel (also called from generated code). */
  def bandKeys(arr: ArrayData, numHashes: Int, rowsPerBand: Int): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](numHashes)
    if (n > 0) {
      java.util.Arrays.fill(mins, Long.MaxValue)
      var i = 0
      while (i < n) {
        // xxhash64(h, lit(k)) folds seed→hashLong(h)→hashInt(k); the
        // first step is k-independent, so hoist it out of the k loop
        val h1 = if (arr.isNullAt(i)) 42L else XXH64.hashLong(arr.getLong(i), 42L)
        var k = 0
        while (k < numHashes) {
          val v = XXH64.hashInt(k, h1)
          if (v < mins(k)) mins(k) = v
          k += 1
        }
        i += 1
      }
    }
    val bands = numHashes / rowsPerBand
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, 42L)
      if (n > 0) {
        var r = b * rowsPerBand
        val end = r + rowsPerBand
        while (r < end) { h = XXH64.hashLong(mins(r), h); r += 1 }
      }
      keys(b) = h
      b += 1
    }
    new GenericArrayData(keys)
  }
}

case class MinHashBandKeys(child: Expression, numHashes: Int, rowsPerBand: Int)
  extends UnaryExpression {
  require(numHashes > 0 && rowsPerBand > 0 && numHashes % rowsPerBand == 0,
    s"numHashes=$numHashes must divide into bands of $rowsPerBand")
  override def prettyName: String = "graft_minhash_band_keys"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT> input, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(a: Any): Any =
    MinHashBands.bandKeys(a.asInstanceOf[ArrayData], numHashes, rowsPerBand)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHashBands.bandKeys(
        $c, $numHashes, $rowsPerBand);""")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
