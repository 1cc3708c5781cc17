package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Codegen'd membership against a DRIVER-SIDE sorted long set — the
  * blocklist shape of the ingest-time gates ([[graft.ext.Dedup.flagNearDups]]
  * band keys, [[graft.ext.TextAnalysis.maskWithGramSet]] hot grams): a
  * bounded key set is collected once in batch and probed once per row (or
  * per band) in-stream.
  *
  * `array_contains(typedLit(keys), k)` probes by LINEAR scan over a boxed
  * GenericArrayData — at the documented ~10⁴-key blocklists that is 10⁴
  * comparisons (plus an unbox each) per probe, ~32 probes per row. Holding
  * the keys as a primitive `long[]` reference object and binary-searching
  * makes the probe ~14 comparisons with no boxing: the membership cost of
  * a blocklist stops being its size, and the collect (driver memory)
  * becomes the only envelope bound.
  */
object ArraySets {

  /** `key ∈ keys` via `java.util.Arrays.binarySearch` over a primitive
    * sorted long[] (deduplicated + sorted here — callers pass the raw
    * collected set). Null key → null (SQL convention). */
  def sortedLongContains(key: Column, keys: Seq[Long]): Column =
    Bridge.column(SortedLongSetContains(Bridge.expression(key),
      keys.distinct.sorted.toArray))
}

/** Membership of a BIGINT key in an embedded sorted primitive long[].
  * The set rides the expression as a reference object (never a Literal
  * array — that would box every element and re-serialize per task in
  * GenericArrayData layout); codegen emits one `Arrays.binarySearch`
  * call against it. */
case class SortedLongSetContains(child: Expression, keys: Array[Long])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT key, got ${other.sql}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_sorted_long_set_contains"

  override def nullSafeEval(k: Any): Any =
    java.util.Arrays.binarySearch(keys, k.asInstanceOf[Long]) >= 0

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedKeys", keys, "long[]")
    nullSafeCodeGen(ctx, ev, k =>
      s"${ev.value} = java.util.Arrays.binarySearch($ref, $k) >= 0;")
  }

  // two expressions are equal only on equal SETS, not equal array refs —
  // without this, sameResult/subexpression elimination would compare
  // Array[Long] by identity. The content hash is computed once: a
  // near-dup gate's set holds ~10⁵ keys.
  private lazy val keysHash = java.util.Arrays.hashCode(keys)
  override def equals(other: Any): Boolean = other match {
    case that: SortedLongSetContains =>
      that.child == child && that.keysHash == keysHash &&
        java.util.Arrays.equals(that.keys, keys)
    case _ => false
  }
  override def hashCode(): Int = 31 * child.hashCode() + keysHash

  // plans print the set as `long[N]#<content hash>`, never by JVM
  // identity (`[J@…`, different every run) nor by content (the explain
  // string is built on every micro-batch)
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"long[${keys.length}]#${Integer.toHexString(keysHash)}")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
